package graft

import graft.llm.{DedupOps, Retrieval, TextAnalysis}
import graft.model.Tables
import graft.pipeline.ZOrder
import org.apache.spark.sql.functions._

/**
 * Round-7 corpus-curation operators: span-level dedup (C4 keep-first),
 * Bloom-routed decontamination, temperature mixture sampling, unigram
 * rarity, and the Z-order layout. Each spec pins the semantic the
 * hash-checked oracle can't see from the outside: keep-first selection,
 * bloom-vs-exact row identity, quota arithmetic, score ordering, and
 * the two-dimensional file-locality property that is the entire point
 * of Z-ordering.
 */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  /** A hand-tampered table wipes its version stamp, which the manifest
    * check would catch FIRST; tamper tests re-stamp so the CONTENT
    * checks (signature, counts, layout guards) are what's exercised. */
  private def restamp(dir: String, tables: Seq[String]): Unit = {
    import graft.llm.SwapManifest
    val fs = SwapManifest.fsOf(spark, dir)
    val v = SwapManifest.newVersion()
    SwapManifest.stampTables(fs, dir, tables, v)
    SwapManifest.writeManifest(fs, dir, tables.map(_ -> v).toMap)
  }

  private lazy val docs = Tables.documents(spark, sfDir)

  // ------------------------------------------------------------ q86 span dedup

  test("spanDedupStats: keep-first — shared span survives exactly once") {
    val span = "a b c d e f g h" // exactly width-8
    val corpus = Seq(
      (1L, s"$span x1 x2 x3 x4 x5 x6 x7 x8"), // span at idx 0 (first occurrence)
      (2L, s"y1 y2 y3 y4 y5 y6 y7 y8 $span"), // span at idx 1
      (3L, span), //                             span at idx 0
      (4L, "short doc") //                       no complete span
    ).toDF("doc_id", "text")
    val got = DedupOps.spanDedupStats(corpus, width = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_dup_spans", "n_removed", "n_tokens_kept")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 2L, 1L, 0L, 16L), // first occurrence kept
      (2L, 2L, 1L, 1L, 8L), //  later occurrence removed
      (3L, 1L, 1L, 1L, 0L), //  later occurrence removed (whole doc was the span)
      (4L, 0L, 0L, 0L, 2L))) // too short for any span: untouched
  }

  test("spanDedupStats: a corpus with no repeated spans removes nothing") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "i j k l m n o p")).toDF("doc_id", "text")
    val got = DedupOps.spanDedupStats(corpus, width = 8)
      .agg(sum("n_dup_spans"), sum("n_removed")).as[(Long, Long)].head()
    assert(got === ((0L, 0L)))
  }

  test("spanDedupApply: cuts later occurrences, keeps first + tail verbatim") {
    val span = "a b c d e f g h"
    val corpus = Seq(
      (1L, s"$span x1 x2 x3"), //                 first occurrence + tail: untouched
      (2L, s"y1 y2 y3 y4 y5 y6 y7 y8 $span t1"), // span cut, own span + tail kept
      (3L, "plain text with no duplicate spans at all")
    ).toDF("doc_id", "text")
    val got = DedupOps.spanDedupApply(corpus, width = 8)
      .orderBy("doc_id")
      .select("doc_id", "text_clean").as[(Long, String)].collect()
    assert(got === Array(
      (1L, s"$span x1 x2 x3"),
      (2L, "y1 y2 y3 y4 y5 y6 y7 y8 t1"),
      (3L, "plain text with no duplicate spans at all")))
  }

  test("spanDupRuns: adjacent duplicated spans merge into maximal extents") {
    def w(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val block16 = w("b", 16) // two adjacent width-8 spans of boilerplate
    val lone8 = w("c", 8) //    a separate single duplicated span
    val corpus = Seq(
      // doc 1: unique span + 16-word block + unique span + lone span
      (1L, s"${w("u", 8)} $block16 ${w("v", 8)} $lone8"),
      // doc 2: the block, then a unique gap span, then the lone span —
      // the gap keeps them two separate runs
      (2L, s"$block16 ${w("x", 8)} $lone8"),
      // doc 3: nothing duplicated
      (3L, w("z", 8))).toDF("doc_id", "text")
    val got = DedupOps.spanDupRuns(corpus, width = 8)
      .orderBy("doc_id", "start_word")
      .select("doc_id", "start_word", "len_words", "n_spans", "n_removed")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      // doc 1 holds the first occurrences: the 2-span block reads as ONE
      // 16-word run (not two 8-word rows), rm = 0
      (1L, 8L, 16L, 2L, 0L),
      (1L, 32L, 8L, 1L, 0L),
      // doc 2's copies: both runs fully removable (rm = n_spans)
      (2L, 0L, 16L, 2L, 2L),
      (2L, 24L, 8L, 1L, 1L)))
    // doc 3 emits no rows — the extents table IS the small output
    assert(!got.exists(_._1 == 3L))
  }

  test("spanDupRuns: contiguous duplicated spans of DIFFERENT blocks still merge") {
    def w(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val a8 = w("a", 8); val b8 = w("b", 8)
    // doc 2 carries a8 immediately followed by b8 — duplicated spans
    // back-to-back, so the maximal run spans both source blocks.
    val corpus = Seq(
      (1L, s"$a8 ${w("x", 8)} $b8"),
      (2L, s"$a8 $b8")).toDF("doc_id", "text")
    val got = DedupOps.spanDupRuns(corpus, width = 8)
      .filter(col("doc_id") === 2L)
      .select("start_word", "len_words", "n_spans", "n_removed")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((0L, 16L, 2L, 2L)))
  }

  test("spanDedupApply token counts agree with spanDedupStats accounting") {
    val a = DedupOps.spanDedupApply(docs, width = 8)
      .select("doc_id", "n_tokens_kept").as[(Long, Long)].collect().toMap
    val b = DedupOps.spanDedupStats(docs, width = 8)
      .select("doc_id", "n_tokens_kept").as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  // ------------------------------------------------- q88 bloom decontamination

  test("bloomDecontaminated is row-identical to the exact anti-join") {
    val bench = docs.filter(col("doc_id") % 37 === 1)
    val viaBloom = TextAnalysis.bloomDecontaminated(docs, bench,
      expectedItems = 1000L).select("doc_id")
    val exact = TextAnalysis.decontaminated(docs, bench).select("doc_id")
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
  }

  test("bloomDecontaminated scrubs a reformatted copy (normalization)") {
    val corpus = Seq((1L, "the exact benchmark question"), (2L, "unrelated text"))
      .toDF("doc_id", "text")
    // Same content modulo punctuation/extra spaces — the normalized
    // fingerprint must still match and the copy must be dropped.
    val bench = Seq((10L, "the exact  benchmark question!!")).toDF("doc_id", "text")
    val kept = TextAnalysis.bloomDecontaminated(corpus, bench, expectedItems = 16L)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L))
  }

  test("bloomDecontaminated composes with a document stream (ingest-time scrub)") {
    // The decontamination guard at ingest: the bloom literal is a plain
    // scan-stage expression and the exact re-check is a stream-static
    // anti-join — both streaming-legal, so the SAME operator runs on a
    // batch corpus and on the ingest stream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the exact benchmark question")).toDF("doc_id", "text")
    val source = MemoryStream[(Long, String)]
    val stream = source.toDF().toDF("doc_id", "text")
    val q = TextAnalysis.bloomDecontaminated(stream, bench, expectedItems = 16L)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      source.addData((1L, "the exact benchmark question"), (2L, "clean doc"),
        (3L, "the exact  benchmark question!!"), (4L, "another clean doc"))
      q.processAllAvailable()
      val kept = spark.table("decon_out").select("doc_id").as[Long].collect().sorted
      assert(kept === Array(2L, 4L))
    } finally q.stop()
  }

  test("bloomDecontaminated with an all-null-text benchmark keeps everything") {
    // rows exist but no fingerprint can be built — semantically the same
    // no-op scrub as an empty benchmark (null matches nothing in the
    // exact gate), not a crash
    val corpus = Seq((1L, "alpha bravo"), (2L, "charlie delta")).toDF("doc_id", "text")
    val bench = Seq((9L, Option.empty[String]), (10L, Option.empty[String]))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.bloomDecontaminated(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
  }

  test("trainingOrder survives null-text rows (ordered as empty, job not killed)") {
    val docs = Seq((1L, Some("alpha bravo")), (2L, None), (3L, Some("charlie")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.trainingOrder(docs, "epoch0")
      .orderBy("ord").as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(got.map(_._3).toSeq === Seq(1L, 2L, 3L))
  }

  test("bloomDecontaminated with an empty benchmark keeps everything") {
    val corpus = Seq((1L, "some doc"), (2L, "another doc")).toDF("doc_id", "text")
    val bench = corpus.filter(lit(false))
    val kept = TextAnalysis.bloomDecontaminated(corpus, bench, expectedItems = 16L)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L))
  }

  // ---------------------------------------------------- q89 mixture sampling

  test("mixtureSample: per-source take = min(quota, n) with √n quotas") {
    val budget = 200L
    val got = TextAnalysis.mixtureSample(docs, "source", budget = budget)
    val takes = got.groupBy("source").agg(count(lit(1)).as("n_taken"))
      .as[(String, Long)].collect().toMap
    // recompute quotas with the operator's integer arithmetic
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val w = counts.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble) * 10000d + 0.5).toLong }
    val wTotal = w.values.sum
    val quota = w.map { case (s, v) => s -> (budget * v) / wTotal }
    for ((s, n) <- counts)
      assert(takes.getOrElse(s, 0L) === math.min(quota(s), n), s"source $s")
    assert(takes.values.sum <= budget)
  }

  test("mixtureSample: a different salt draws a genuinely different sample (prefix salt)") {
    // a SUFFIXED same-length salt shifts every rolling-hash key by a
    // near-constant — re-salting would barely change the fill order;
    // the prefix form must actually re-draw
    def sample(salt: String) =
      TextAnalysis.mixtureSample(docs, "source", budget = 50L, salt = salt)
        .select("doc_id").as[Long].collect().toSet
    val (a, b) = (sample("s0"), sample("s1"))
    assert(a.size === b.size, "quotas are salt-independent")
    assert(a !== b, "re-salting must change the selected set")
  }

  test("mixtureSample is deterministic across runs") {
    val a = TextAnalysis.mixtureSample(docs, "source").orderBy("source", "rnk")
      .as[(Long, String, Long)].collect()
    val b = TextAnalysis.mixtureSample(docs, "source").orderBy("source", "rnk")
      .as[(Long, String, Long)].collect()
    assert(a === b)
  }

  test("collocationsTopK: an exclusive adjacent pair takes rank 1 at maximal lift") {
    // 'zx qy' occurs 6 times and its words occur NOWHERE else — lift is
    // the maximum possible for c=6 (c·N/(c·c) = N/c); common adjacent
    // words shared with other contexts score strictly lower
    val corpus = (1L to 6L).map(i => (i, "zx qy the quick fox")) ++
      (7L to 12L).map(i => (i, "the slow fox and the quick dog"))
    val got = Retrieval.collocationsTopK(corpus.toDF("doc_id", "text"),
      k = 10, minCount = 5L).orderBy("rank")
      .select("w1", "w2", "c_xy", "lift", "rank")
      .as[(String, String, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    val n = corpus.map(_._2.split(" ").length).sum.toDouble
    assert((got.head._1, got.head._2) === (("zx", "qy")))
    assert(got.head._4 === math.floor(n / 6.0 * 10000 + 0.5) / 10000)
    assert(got.forall(_._3 >= 5L), "minCount must bind")
    assert(got.map(_._4).toSeq === got.map(_._4).sortBy(-(_: Double)).toSeq,
      "descending lift order")
  }

  // ------------------------------------------------------ q87 unigram rarity

  test("unigramRarity: rare-token docs outscore common-token docs") {
    // 'zzz' occurs once corpus-wide; 'the' floods the corpus.
    val corpus = Seq(
      (1L, "zzz"),
      (2L, "the the the the"),
      (3L, "the the the the the the the the the the the the")
    ).toDF("doc_id", "text")
    val scores = Retrieval.unigramRarity(corpus)
      .select("doc_id", "avg_rarity").as[(Long, Double)].collect().toMap
    assert(scores(1L) > scores(2L))
    assert(scores(2L) == scores(3L)) // same unigram => same mean surprisal
  }

  test("mixtureSample with a budget above the corpus returns every row") {
    val n = docs.count()
    // Σ floor quotas ≤ budget, and per-source take = min(quota, n_s): with
    // budget = 10·corpus every quota exceeds its source size.
    val got = TextAnalysis.mixtureSample(docs, "source", budget = 10 * n).count()
    assert(got === n)
  }

  // ------------------------------------------------ q113 bigram surprisal

  test("bigramSurprisal: in-domain prose scores below unseen gibberish") {
    // enough training mass that a seen bigram's bit-gap drops below the
    // unseen floor (at singleton counts the integer bit-length can't
    // discriminate — bitlen granularity is the price of exactness)
    val train = (100L to 107L).map((_, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat on the mat"), // every bigram seen in training
      (2L, "zq xv qqj zzk wpl mmx"), //  nothing seen
      (3L, "one"), //                    < 2 tokens: no bigrams
      (4L, null.asInstanceOf[String]) // null text: no bigrams
    ).toDF("doc_id", "text")
    val got = Retrieval.bigramSurprisal(score, train).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got(0)._2 === 5L && got(1)._2 === 5L)
    assert(got(0)._4 < got(1)._4,
      s"in-domain ${got(0)._4} must score below gibberish ${got(1)._4}")
    assert(got(2) === ((3L, 0L, 0L, 0.0)))
    assert(got(3) === ((4L, 0L, 0L, 0.0)))
  }

  test("bigramSurprisal: unseen continuation costs bitlen(c_x+V) - 1 bits") {
    // Model: one doc "a b", so V = 2, c(a) = 1, c(a,b) = 1.
    val train = Seq((100L, "a b")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"), // seen bigram: bitlen(1+2) - bitlen(1+1) = 2 - 2 = 0
      (2L, "a z"), // unseen continuation: bitlen(3) - bitlen(1) = 2 - 1 = 1
      (3L, "z z")  // unseen head: bitlen(0+2) - bitlen(0+1) = 2 - 1 = 1
    ).toDF("doc_id", "text")
    val got = Retrieval.bigramSurprisal(score, train).orderBy("doc_id")
      .select("doc_id", "surprisal_bits").as[(Long, Long)].collect()
    assert(got === Array((1L, 0L), (2L, 1L), (3L, 1L)))
  }

  // ------------------------------------------------ q114 epoch upsampling

  test("epochMixtureTokens: quota above source mass repeats full epochs + top-up") {
    // One source, 2 docs x 2 tokens = 4 tokens; budget 10 -> quota 10:
    // epochs = min(10 div 4, 3) = 2, rem = 10 - 8 = 2 -> the top-up
    // admits exactly the first doc in salted-hash order a third time.
    val corpus = Seq((1L, "s", "w1 w2"), (2L, "s", "w3 w4"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.epochMixtureTokens(corpus, "source",
      tokenBudget = 10L, maxEpochs = 3)
    assert(got.count() === 5L) // 2 docs x 2 epochs + 1 top-up row
    val perDoc = got.groupBy("doc_id").count().orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    assert(perDoc.values.toSeq.sorted === Seq(2L, 3L))
    // epochs are 0-based and contiguous per doc
    val eps = got.filter(col("doc_id") === perDoc.maxBy(_._2)._1)
      .select("epoch").as[Long].collect().sorted
    assert(eps === Array(0L, 1L, 2L))
  }

  test("epochMixtureTokens: maxEpochs caps repetition and zeroes the top-up") {
    val corpus = Seq((1L, "s", "w1 w2")).toDF("doc_id", "source", "text")
    // quota = 100 over mass 2 -> uncapped 50 epochs; cap at 3, rem = 0
    val got = TextAnalysis.epochMixtureTokens(corpus, "source",
      tokenBudget = 100L, maxEpochs = 3)
    assert(got.count() === 3L)
  }

  test("epochMixtureTokens with epochs = 0 selects the subsampler's rows") {
    // Budget below every source's mass -> 0 full epochs, top-up only:
    // the selected (doc, source) set must equal mixtureSampleTokens'.
    val up = TextAnalysis.epochMixtureTokens(docs, "source",
      tokenBudget = 500L, maxEpochs = 3).select("doc_id", "source")
    val sub = TextAnalysis.mixtureSampleTokens(docs, "source",
      tokenBudget = 500L).select("doc_id", "source")
    assert(up.exceptAll(sub).isEmpty && sub.exceptAll(up).isEmpty)
  }

  // ------------------------------------------------ q115 RRF hybrid fusion

  test("rrfFuse: doc in both lists outranks single-list docs; exact contributions") {
    val sparse = Seq((10L, 1), (20L, 2)).toDF("doc_id", "rank")
    val dense = Seq((10L, 2), (30L, 1)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(sparse, dense, k = 3).orderBy("rank")
      .select("doc_id", "r_sparse", "r_dense", "rrf")
      .as[(Long, Int, Int, Long)].collect()
    val c = (r: Int) => 1000000000L / (60L + r)
    assert(got(0) === ((10L, 1, 2, c(1) + c(2)))) // present in both wins
    assert(Set(got(1)._1, got(2)._1) === Set(20L, 30L))
    assert(got.map(_._4).toSeq === got.map(_._4).toSeq.sorted.reverse)
  }

  // ------------------------------------------- q116 IVF append lifecycle

  test("IvfIndex.append is replay-idempotent; compact preserves answers") {
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append_spec").toString
    graft.llm.IvfIndex.build(e.filter(col("vec_id") % 2 === 0), dir,
      nCells = 4, iters = 1)
    val batch = e.filter(col("vec_id") % 2 === 1)
    graft.llm.IvfIndex.append(batch, dir)
    val afterOnce = spark.read.parquet(s"$dir/assignments").count()
    val queries = e.filter(col("vec_id") < 4)
    val once = graft.llm.IvfIndex.search(queries, dir, k = 5, nprobe = 4)
    val onceRows = once.collect().toSet
    // replayed batch: no new rows, identical answers
    graft.llm.IvfIndex.append(batch, dir)
    assert(spark.read.parquet(s"$dir/assignments").count() === afterOnce)
    assert(graft.llm.IvfIndex.search(queries, dir, k = 5, nprobe = 4)
      .collect().toSet === onceRows)
    // compaction collapses the append's file debris, answers unchanged
    val before = graft.pipeline.Maintenance
      .dataFiles(spark, s"$dir/assignments")
      .flatMap(p => graft.pipeline.Maintenance
        .dataFiles(spark, p.toString)).size
    graft.llm.IvfIndex.compact(spark, dir)
    val after = graft.pipeline.Maintenance
      .dataFiles(spark, s"$dir/assignments")
      .flatMap(p => graft.pipeline.Maintenance
        .dataFiles(spark, p.toString)).size
    assert(after < before, s"compact must shrink files ($before -> $after)")
    assert(graft.llm.IvfIndex.search(queries, dir, k = 5, nprobe = 4)
      .collect().toSet === onceRows)
  }

  test("IvfIndex manifest: torn swaps are detectable, not just recoverable") {
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf_manifest_spec").toString
    graft.llm.IvfIndex.build(e.filter(col("vec_id") < 100), dir,
      nCells = 4, iters = 1)
    val queries = e.filter(col("vec_id") < 4)
    // a freshly built index serves and reports healthy
    assert(graft.llm.IvfIndex.search(queries, dir, k = 3, nprobe = 4).count() > 0)
    val h0 = graft.llm.IvfIndex.healthCheck(spark, dir).head()
    assert(h0.getAs[Boolean]("has_manifest") && h0.getAs[Boolean]("healthy"))
    assert(h0.getAs[Long]("n_tables") === 2L)
    // simulate a torn swap: one table carries a stamp the manifest
    // doesn't expect (crash between a rename and the manifest write).
    // Write through the Hadoop fs (as the product does) so the local
    // filesystem's .crc sidecar stays consistent with the content.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stamp = new org.apache.hadoop.fs.Path(s"$dir/assignments/_graft_version")
    val orig = {
      val in = fs.open(stamp)
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        new String(buf, 0, n, "UTF-8")
      } finally in.close()
    }
    def writeStamp(s: String): Unit = {
      val out = fs.create(stamp, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    writeStamp("some-other-version")
    val e1 = intercept[IllegalStateException] {
      graft.llm.IvfIndex.search(queries, dir, k = 3, nprobe = 4)
    }
    assert(e1.getMessage.contains("version check") &&
      e1.getMessage.contains("assignments"))
    val h1 = graft.llm.IvfIndex.healthCheck(spark, dir).head()
    assert(!h1.getAs[Boolean]("healthy") &&
      h1.getAs[String]("stale_tables") === "assignments")
    writeStamp(orig)
    // a missing manifest (pre-layout artifact or build died before the
    // final write) refuses to serve
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest"), false)
    val e2 = intercept[IllegalStateException] {
      graft.llm.IvfIndex.search(queries, dir, k = 3, nprobe = 4)
    }
    assert(e2.getMessage.contains("manifest"))
    assert(!graft.llm.IvfIndex.healthCheck(spark, dir).head()
      .getAs[Boolean]("has_manifest"))
    // rebuild (build is fine too) restores a serving index
    graft.llm.IvfIndex.build(e.filter(col("vec_id") < 100), dir,
      nCells = 4, iters = 1)
    assert(graft.llm.IvfIndex.search(queries, dir, k = 3, nprobe = 4).count() > 0)
  }

  test("IvfIndex.build after buildPq deletes the stale PQ layout — searchPq refuses loudly") {
    // round-17 advice: re-running build() used to leave pq_codes
    // partitioned under the OLD cells with no manifest entry, so
    // verifyVersions passed and searchPq silently served candidates
    // routed by the old clustering against the new centroids
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild_pq_spec").toString
    graft.llm.IvfIndex.buildPq(e.filter(col("vec_id") < 200), dir,
      nCells = 4, iters = 1)
    val queries = e.filter(col("vec_id") < 4)
    assert(graft.llm.IvfIndex.searchPq(queries, dir, k = 3, nprobe = 4)
      .count() > 0)
    // coarse-only rebuild over the same dir: the PQ layout is invalid
    // against the new clustering and must be GONE, not stale
    graft.llm.IvfIndex.build(e.filter(col("vec_id") < 300), dir,
      nCells = 8, iters = 1)
    for (t <- Seq("pq_codes", "pq_codebooks"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t")),
        s"$t must be deleted by a coarse build()")
    val ex = intercept[IllegalStateException] {
      graft.llm.IvfIndex.searchPq(queries, dir, k = 3, nprobe = 8)
    }
    assert(ex.getMessage.contains("no PQ index") &&
      ex.getMessage.contains("buildPq"))
    // the coarse index itself serves and reports healthy (2 tables)
    assert(graft.llm.IvfIndex.search(queries, dir, k = 3, nprobe = 8).count() > 0)
    val h = graft.llm.IvfIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("healthy") && h.getAs[Long]("n_tables") === 2L)
    // buildPq re-establishes the PQ serving path
    graft.llm.IvfIndex.buildPq(e.filter(col("vec_id") < 300), dir,
      nCells = 4, iters = 1)
    assert(graft.llm.IvfIndex.searchPq(queries, dir, k = 3, nprobe = 4)
      .count() > 0)
  }

  test("IvfIndex.append: conflicting embeddings under one vec_id store at most one row, never update") {
    // the documented contract: append is insert-if-absent on vec_id —
    // an id already stored keeps its STORED embedding regardless of the
    // new batch, and a batch carrying one id twice with DIFFERENT
    // embeddings keeps an arbitrary single row (undefined which)
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf_conflict_spec").toString
    graft.llm.IvfIndex.build(e.filter(col("vec_id") < 50), dir,
      nCells = 4, iters = 1)
    val storedBefore = spark.read.parquet(s"$dir/assignments")
      .filter(col("vec_id") === 7L).select("embedding").head()
      .getSeq[Float](0)
    // same-batch conflict on a NEW id (9999) + a conflicting re-send of
    // an EXISTING id (7)
    val base = e.filter(col("vec_id") === 8L).select("embedding")
      .head().getSeq[Float](0)
    import spark.implicits._
    val batch = Seq(
      (9999L, base.map(_ + 1.0f)),
      (9999L, base.map(_ + 2.0f)),
      (7L, base.map(_ + 3.0f))).toDF("vec_id", "embedding")
    graft.llm.IvfIndex.append(batch, dir)
    val stored = spark.read.parquet(s"$dir/assignments")
    assert(stored.filter(col("vec_id") === 9999L).count() === 1L,
      "at most one row per vec_id")
    assert(stored.filter(col("vec_id") === 7L).count() === 1L)
    assert(stored.filter(col("vec_id") === 7L).select("embedding").head()
      .getSeq[Float](0) == storedBefore,
      "an already-indexed id keeps its stored embedding (insert-if-absent)")
  }

  test("IvfIndex.rebuild: drifted append re-clusters, skew drops, full-probe answers preserved") {
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebuild_spec").toString
    graft.llm.IvfIndex.buildPq(e.filter(col("vec_id") < 200), dir,
      nCells = 4, iters = 1)
    // drift: a new batch shifted far outside the trained distribution —
    // against FROZEN centroids it piles into whichever cell is least far
    val drifted = e.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(25.0f)).as("embedding"))
    graft.llm.IvfIndex.append(drifted, dir)
    def skew(): Double = graft.llm.IvfIndex.rebalanceCheck(spark, dir)
      .select("skew").as[Double].head()
    def nVec(): Long = spark.read.parquet(s"$dir/assignments").count()
    val (skewBefore, nBefore) = (skew(), nVec())
    val queries = e.filter(col("vec_id") < 4)
    val fullBefore = graft.llm.IvfIndex.search(queries, dir, k = 5, nprobe = 4)
      .collect().toSet
    val pqBefore = graft.llm.IvfIndex.searchPq(queries, dir, k = 5, nprobe = 4)
      .collect().toSet
    graft.llm.IvfIndex.rebuild(spark, dir, nCells = 4, iters = 1)
    // re-clustering over the drifted population rebalances the lists
    assert(skew() < skewBefore,
      s"rebuild must reduce skew (${skew()} !< $skewBefore)")
    assert(nVec() === nBefore, "rebuild must preserve every vector")
    // at FULL probes the exact-cosine answers are partition-invariant
    assert(graft.llm.IvfIndex.search(queries, dir, k = 5, nprobe = 4)
      .collect().toSet === fullBefore)
    // PQ codes re-partitioned, not re-encoded: full-probe ADC unchanged
    assert(graft.llm.IvfIndex.searchPq(queries, dir, k = 5, nprobe = 4)
      .collect().toSet === pqBefore)
    // an un-built / emptied index refuses instead of clustering nothing
    val empty = java.nio.file.Files.createTempDirectory("ivf_rebuild_none").toString
    e.filter(col("vec_id") < 0).select("vec_id", "embedding")
      .write.parquet(s"$empty/assignments")
    assertThrows[IllegalArgumentException] {
      graft.llm.IvfIndex.rebuild(spark, empty, nCells = 4, iters = 1)
    }
  }

  // --------------------------------------------------- registry invariants

  // --------------------------------------- q117/q118 containment + prune

  test("containmentPairs fires on quoted-subset docs where Jaccard stays silent") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 10).map(i => s"w$i").mkString(" ") // fully contained
    val corpus = Seq((1L, long), (2L, short), (3L, "x y z q r s t u v w"))
      .toDF("doc_id", "text")
    val cont = DedupOps.containmentPairs(corpus, n = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(cont === Array((1L, 2L))) // the subset pair, nothing else
    val jacc = DedupOps.ngramJaccardPairs(corpus, n = 3, threshold = 0.5)
    assert(jacc.isEmpty, "Jaccard must NOT fire on the subset pair") // 8/38
  }

  test("qualityPrune keeps each stratum's top slice, never crossing strata") {
    val got = TextAnalysis.qualityPrune(docs, "source", keepPermille = 300L)
    val perSrc = got.groupBy("source").agg(
      count(lit(1)).as("kept"), max("rnk").as("max_rnk"))
      .as[(String, Long, Long)].collect()
    val totals = docs.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    perSrc.foreach { case (src, kept, maxRnk) =>
      val expect = totals(src) * 300 / 1000
      assert(kept === expect, s"$src kept $kept, want $expect")
      assert(maxRnk === expect, s"$src rank gap") // ranks are 1..kept
    }
    // kept rows' worst score >= dropped rows' best score within a stratum
    val all = TextAnalysis.qualityPrune(docs, "source", keepPermille = 1000L)
    val joined = all.as("a").join(got.as("k"),
      col("a.doc_id") === col("k.doc_id"), "left_anti")
      .groupBy(col("a.source").as("source"))
      .agg(max(col("a.quality_scaled")).as("best_dropped"))
      .join(got.groupBy("source")
        .agg(min(col("quality_scaled")).as("worst_kept")), "source")
    assert(joined.filter(col("best_dropped") > col("worst_kept")).isEmpty)
  }

  test("epochTrainingOrder interleaves repetitions instead of ranking them adjacent") {
    // 40 docs x 2 tokens, one source, budget = 2x mass -> 2 epochs each.
    val corpus = (1L to 40L).map(i => (i, "s", s"alpha$i beta$i"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.epochTrainingOrder(corpus, "source",
      tokenBudget = 160L, maxEpochs = 3)
    assert(got.count() === 80L)
    // dense global rank 1..N
    assert(got.agg(min("ord"), max("ord"), countDistinct("ord"))
      .as[(Long, Long, Long)].head() === ((1L, 80L, 80L)))
    // with the epoch in the salt, a doc's two occurrences decorrelate:
    // under same-salt ordering EVERY pair would be adjacent (same text
    // => same key); here essentially none should be
    val ords = got.select("doc_id", "ord").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val adjacent = ords.values.count(v => v(1) - v(0) === 1L)
    assert(adjacent < 5, s"$adjacent of 40 repetition pairs rank adjacent")
  }

  test("aHashPairs: byte-identical payloads pair at hamming 0; disjoint ones don't") {
    implicit val s = spark
    val base = (1 to 96).map(i => ('a' + i % 26).toChar).mkString
    val corpus = Seq(
      (1L, base), (2L, base), //                clone pair: hamming 0
      (3L, "9081726354" * 10), //               different byte profile
      (4L, null.asInstanceOf[String]), (5L, "") // no payload: no hash
    ).toDF("doc_id", "text")
    val got = graft.llm.Multimodal.aHashPairs(
      graft.llm.Multimodal.mediaFromDocuments(corpus), k = 48, maxHamming = 2)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(got.contains((1L, 2L, 0L)), s"clone pair missing: ${got.toSeq}")
    assert(!got.exists(p => p._1 === 3L || p._2 === 3L),
      s"doc 3 must not pair: ${got.toSeq}")
    assert(!got.exists(p => Set(p._1, p._2).intersect(Set(4L, 5L)).nonEmpty),
      "empty payloads must emit no hash")
  }

  test("corpusReport counts exact dups per stratum and never Expands") {
    val corpus = Seq(
      (1L, "a", "en", "same text here"),
      (2L, "a", "en", "same text here"), //  dup of 1
      (3L, "a", "fr", "different text"),
      (4L, "b", "en", "same text here"), //  NOT a dup — other stratum
      (5L, "b", "en", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "lang", "text")
    val got = TextAnalysis.corpusReport(corpus, "source").orderBy("source")
      .select("source", "n_docs", "n_tokens", "n_dup_docs", "n_langs")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(("a", 3L, 8L, 1L, 2L), ("b", 2L, 3L, 0L, 1L)))
    val plan = TextAnalysis.corpusReport(corpus, "source")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "report must not multi-distinct Expand")
  }

  // ------------------------------------------ q122/q123 decon index

  test("DeconIndex: probe ≡ inline decontaminate; append is replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("decon_idx_spec").toString
    val bench = docs.filter(col("doc_id") % 50 === 0)
    graft.llm.DeconIndex.build(bench, dir, n = 5)
    val viaIndex = graft.llm.DeconIndex.probe(docs, dir)
      .select("doc_id").as[Long].collect().sorted
    val inline = TextAnalysis.decontaminated(docs, bench)
      .select("doc_id").as[Long].collect().sorted
    assert(viaIndex === inline)
    val fuzzyIdx = graft.llm.DeconIndex.probeFuzzy(docs, dir, maxOverlap = 0.5)
      .select("doc_id").as[Long].collect().sorted
    val fuzzyInline = TextAnalysis.fuzzyDecontaminated(docs, bench, n = 5,
      maxOverlap = 0.5).select("doc_id").as[Long].collect().sorted
    assert(fuzzyIdx === fuzzyInline)
    // replayed append of the SAME benchmark adds nothing
    val fpsBefore = spark.read.parquet(s"$dir/fingerprints").count()
    val ghBefore = spark.read.parquet(s"$dir/grams").count()
    graft.llm.DeconIndex.append(bench, dir)
    assert(spark.read.parquet(s"$dir/fingerprints").count() === fpsBefore)
    assert(spark.read.parquet(s"$dir/grams").count() === ghBefore)
    // a genuinely new item lands once and is then caught by the probe
    val extra = Seq((999999L, "totally new benchmark item text"))
      .toDF("doc_id", "text")
    graft.llm.DeconIndex.append(extra, dir)
    assert(graft.llm.DeconIndex.probe(extra, dir).isEmpty)
  }

  test("DeconIndex.probeWinnow: stored prints ≡ inline winnowDecontaminate; replay appends nothing") {
    val dir = java.nio.file.Files.createTempDirectory("decon_idx_winnow").toString
    val bench = docs.filter(col("doc_id") % 50 === 0)
    graft.llm.DeconIndex.build(bench, dir, n = 5, wn = 3, ww = 4)
    val stored = graft.llm.DeconIndex.probeWinnow(docs, dir, minShared = 2L)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val inline = graft.llm.DedupOps.winnowDecontaminate(docs, bench,
        n = 3, w = 4, minShared = 2L)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(stored.toSeq === inline.toSeq)
    // at-least-once replay: same benchmark appended again lands nothing
    val before = spark.read.parquet(s"$dir/prints").count()
    graft.llm.DeconIndex.append(bench, dir)
    assert(spark.read.parquet(s"$dir/prints").count() === before)
    // compaction rewrites layout only: probe answers identical after
    graft.llm.DeconIndex.compact(spark, dir)
    val afterCompact = graft.llm.DeconIndex.probeWinnow(docs, dir,
        minShared = 2L)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(afterCompact.toSeq === stored.toSeq)
    assert(graft.llm.DeconIndex.healthCheck(spark, dir)
      .head().getAs[Long]("data_files") === 4L)
    // a unicode-built index refuses nothing but probes the normalized
    // surface: params round-trip the tokenizer name
    val dir2 = java.nio.file.Files.createTempDirectory("decon_idx_wuni").toString
    graft.llm.DeconIndex.build(bench, dir2,
      wtok = graft.llm.DedupOps.Tokenizer.Unicode)
    val uniStored = graft.llm.DeconIndex.probeWinnow(docs, dir2, minShared = 2L)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val uniInline = graft.llm.DedupOps.winnowDecontaminate(docs, bench,
        n = 3, w = 4, minShared = 2L,
        tok = graft.llm.DedupOps.Tokenizer.Unicode)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(uniStored.toSeq === uniInline.toSeq)
  }

  test("DeconIndex.healthCheck: healthy index reports zero violations; an interleaved append shows dup rows") {
    val dir = java.nio.file.Files.createTempDirectory("decon_idx_health").toString
    val bench = docs.filter(col("doc_id") % 50 === 0)
    graft.llm.DeconIndex.build(bench, dir, n = 5)
    val h = graft.llm.DeconIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Int]("n") === 5)
    assert(h.getAs[Long]("n_fingerprints") > 0L)
    assert(h.getAs[Long]("n_grams") > 0L)
    assert(h.getAs[Long]("fp_dup_rows") === 0L)
    assert(h.getAs[Long]("gram_dup_rows") === 0L)
    assert(h.getAs[Long]("n_prints") > 0L)
    assert(h.getAs[Long]("print_dup_rows") === 0L)
    assert(h.getAs[Long]("data_files") >= 4L)
    // simulate the single-writer breach: a second writer re-appends rows
    // the anti-join snapshot didn't see — duplicate longs land
    spark.read.parquet(s"$dir/fingerprints").limit(3)
      .write.mode("append").parquet(s"$dir/fingerprints")
    val h2 = graft.llm.DeconIndex.healthCheck(spark, dir).head()
    assert(h2.getAs[Long]("fp_dup_rows") === 3L,
      "duplicate fingerprints must surface as violations")
    // absent index throws, like every loader
    intercept[IllegalStateException] {
      graft.llm.DeconIndex.healthCheck(spark,
        java.nio.file.Files.createTempDirectory("decon_idx_absent").toString)
    }
  }

  test("BpeIndex.healthCheck: healthy vocabulary; torn and mixed artifacts report unhealthy") {
    import graft.llm.{Bpe, BpeIndex}
    val corpus = Seq((1L, "low lower lowest low low"),
      (2L, "new newer newest new")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_idx_health").toString
    BpeIndex.build(corpus, dir, k = 6)
    val h = BpeIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("healthy"))
    assert(h.getAs[Boolean]("sep_ok") && h.getAs[Boolean]("k_ok") &&
      h.getAs[Boolean]("sig_ok") && h.getAs[Boolean]("ranks_ok"))
    assert(h.getAs[Long]("n_merges") === h.getAs[Int]("k").toLong)
    // mixed artifact: params from a DIFFERENT build over old merges —
    // k and sep match, only the signature catches it; healthCheck
    // REPORTS (a monitoring row) where load throws
    val stored = BpeIndex.load(spark, dir)
    Seq((stored.size, Bpe.Sep, BpeIndex.signature(stored) ^ 0x77L,
        "whitespace"))
      .toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    val hMixed = BpeIndex.healthCheck(spark, dir).head()
    assert(!hMixed.getAs[Boolean]("healthy") && !hMixed.getAs[Boolean]("sig_ok"))
    assert(hMixed.getAs[Boolean]("k_ok") && hMixed.getAs[Boolean]("sep_ok"))
    // torn artifact: params' k disagrees with the stored merge count
    Seq((stored.size + 2, Bpe.Sep, BpeIndex.signature(stored),
        "whitespace"))
      .toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    val hTorn = BpeIndex.healthCheck(spark, dir).head()
    assert(!hTorn.getAs[Boolean]("healthy") && !hTorn.getAs[Boolean]("k_ok"))
  }

  test("DsirIndex: build->store->load->score equals the inline scores; unseen bins smooth") {
    import graft.llm.DsirIndex
    val target = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("dsir_idx_spec").toString
    DsirIndex.build(docs, target, dir, buckets = 1024)
    val stored = DsirIndex.score(spark, dir, docs)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val inline = Retrieval.dsirScores(docs, target, buckets = 1024)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(stored.toSeq === inline.toSeq)
    // a batch the model never saw: every feature reads c_r through the
    // smoothing floor — scores compute, never crash, one row per doc
    val novel = Seq((9001L, "zzzq qqzz zzqq"), (9002L, "solo"))
      .toDF("doc_id", "text")
    val sc = DsirIndex.score(spark, dir, novel)
      .select("doc_id", "n_feats").as[(Long, Long)].collect().toMap
    assert(sc === Map(9001L -> 2L, 9002L -> 0L))
  }

  test("DsirIndex.score and scorer score the counts they validated: a " +
      "count table rewritten after the call is never read") {
    import graft.llm.DsirIndex
    val dir = java.nio.file.Files.createTempDirectory("dsir_idx_frozen").toString
    val other = java.nio.file.Files.createTempDirectory("dsir_idx_other").toString
    DsirIndex.build(docs, docs.filter(col("doc_id") % 4 === 0), dir, buckets = 1024)
    DsirIndex.build(docs, docs.filter(col("doc_id") % 4 === 1), other, buckets = 1024)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_feats", "lr_bits", "lr_scaled")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val before = rows(DsirIndex.score(spark, dir, docs))
    val scored = DsirIndex.score(spark, dir, docs)
    val scorer = DsirIndex.scorer(spark, dir)
    // another build's target counts land over this index after the check
    val swapped = spark.read.parquet(s"$other/target_counts").collect()
    spark.createDataFrame(java.util.Arrays.asList(swapped: _*),
        spark.read.parquet(s"$other/target_counts").schema)
      .write.mode("overwrite").parquet(s"$dir/target_counts")
    assert(rows(DsirIndex.score(spark, other, docs)) !== before)
    assert(rows(scored) === before)
    assert(rows(scorer(docs)) === before)
  }

  test("DsirIndex.healthCheck: healthy model; mixed and torn artifacts report unhealthy, score throws") {
    import graft.llm.DsirIndex
    val target = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("dsir_idx_health").toString
    DsirIndex.build(docs, target, dir, buckets = 1024)
    val h = DsirIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("healthy"))
    assert(h.getAs[Boolean]("bins_ok") && h.getAs[Boolean]("range_ok") &&
      h.getAs[Boolean]("sig_ok"))
    // mixed artifact: a second builder's raw counts land over this
    // build's params — row COUNT can match, only the signature catches
    val crOld = spark.read.parquet(s"$dir/raw_counts")
      .as[(Long, Long)].collect().sortBy(_._1)
    spark.createDataFrame(crOld.toSeq.map { case (b, c) => (b, c + 1L) })
      .toDF("b", "c_r").write.mode("overwrite").parquet(s"$dir/raw_counts")
    restamp(dir, Seq("target_counts", "raw_counts", "params"))
    val hMixed = DsirIndex.healthCheck(spark, dir).head()
    assert(!hMixed.getAs[Boolean]("healthy") && !hMixed.getAs[Boolean]("sig_ok"))
    assert(hMixed.getAs[Boolean]("bins_ok"))
    intercept[IllegalArgumentException] {
      DsirIndex.score(spark, dir, docs).count()
    }
    // torn artifact: a truncated count table disagrees with params
    spark.createDataFrame(crOld.toSeq.take(3).map { case (b, c) => (b, c) })
      .toDF("b", "c_r").write.mode("overwrite").parquet(s"$dir/raw_counts")
    restamp(dir, Seq("target_counts", "raw_counts", "params"))
    val hTorn = DsirIndex.healthCheck(spark, dir).head()
    assert(!hTorn.getAs[Boolean]("healthy") && !hTorn.getAs[Boolean]("bins_ok"))
    // absent index throws, like every loader
    intercept[IllegalStateException] {
      DsirIndex.score(spark,
        java.nio.file.Files.createTempDirectory("dsir_idx_absent").toString,
        docs)
    }
  }

  test("one check list per index: a forged artifact is refused on load by " +
      "the check that healthCheck and the dashboard report false") {
    import graft.llm.{BpeIndex, DsirIndex, IndexHealth, SwapManifest, UnigramIndex}
    val corpus = Seq((1L, "banana band banana low lower lowest"),
      (2L, "ababab cab new newer newest")).toDF("doc_id", "text")
    def params(dir: String) = spark.read.parquet(s"$dir/params").head()
    // Each forgery keeps every other check consistent (counts, signature,
    // pricing total), so exactly one named check fails.
    final case class Forged(kind: IndexHealth.Kind, chk: String,
        tables: Seq[String], forge: String => Unit, load: String => Any,
        healthCheck: String => org.apache.spark.sql.DataFrame)
    // BPE merges ranked 2..k+1: count, separator and signature agree
    val bpe = Forged(IndexHealth.BpeK, "ranks", Seq("merges", "params"), { dir =>
      BpeIndex.build(corpus, dir, k = 4)
      val ms = BpeIndex.load(spark, dir).map(m => m.copy(rank = m.rank + 1))
      val p = params(dir)
      spark.createDataFrame(ms).write.mode("overwrite").parquet(s"$dir/merges")
      Seq((p.getAs[Int]("k"), p.getAs[String]("sep"), BpeIndex.signature(ms),
          p.getAs[String]("pretok"), p.getAs[Long]("fert_permille")))
        .toDF("k", "sep", "sig", "pretok", "fert_permille")
        .write.mode("overwrite").parquet(s"$dir/params")
    }, BpeIndex.load(spark, _), BpeIndex.healthCheck(spark, _))
    // one piece stored twice: n_pieces, signature and the pricing total
    // (so every cost) stay consistent
    val unigram = Forged(IndexHealth.Unigram, "unique", Seq("pieces", "params"), { dir =>
      UnigramIndex.build(corpus, dir)
      val ps = UnigramIndex.load(spark, dir)
      val dup = ps.head +: ps
      val p = params(dir)
      dup.toDF().write.mode("overwrite").parquet(s"$dir/pieces")
      Seq((dup.size, p.getAs[Int]("chunk_len"), p.getAs[Int]("max_piece_len"),
          p.getAs[Long]("unk_cost"), UnigramIndex.signature(dup),
          p.getAs[Long]("fert_permille"), p.getAs[Long]("priced_tot")))
        .toDF("n_pieces", "chunk_len", "max_piece_len", "unk_cost", "sig",
          "fert_permille", "priced_tot")
        .write.mode("overwrite").parquet(s"$dir/params")
    }, UnigramIndex.load(spark, _), UnigramIndex.healthCheck(spark, _))
    // a raw-count bin at buckets + 3: bin counts and signature agree
    val dsir = Forged(IndexHealth.Dsir, "range",
        Seq("target_counts", "raw_counts", "params"), { dir =>
      DsirIndex.build(corpus, corpus.filter(col("doc_id") === 1L), dir,
        buckets = 64)
      def counts(t: String) = spark.read.parquet(s"$dir/$t").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      val ct = counts("target_counts")
      val cr = counts("raw_counts") :+ ((64L + 3L, 1L))
      val p = params(dir)
      cr.toDF("b", "c_r").write.mode("overwrite").parquet(s"$dir/raw_counts")
      Seq((64, ct.size.toLong, cr.size.toLong, DsirIndex.signature(ct, cr),
          p.getAs[String]("dtok")))
        .toDF("buckets", "n_target_bins", "n_raw_bins", "sig", "dtok")
        .write.mode("overwrite").parquet(s"$dir/params")
    }, DsirIndex.score(spark, _, corpus), DsirIndex.healthCheck(spark, _))
    for (c <- Seq(bpe, unigram, dsir)) {
      val dir = java.nio.file.Files.createTempDirectory(s"forged_${c.chk}")
        .toString
      c.forge(dir)
      restamp(dir, c.tables)
      val e = intercept[IllegalArgumentException](c.load(dir))
      assert(e.getMessage.contains(s"failed check: ${c.chk}"), e.getMessage)
      val h = c.healthCheck(dir).head()
      val failedCols = h.schema.fieldNames.toSeq
        .filter(f => f.endsWith("_ok") && !h.getAs[Boolean](f))
      assert(failedCols == Seq(s"${c.chk}_ok") && !h.getAs[Boolean]("healthy"),
        s"${c.chk}: healthCheck $h")
      val failedRows = IndexHealth.dashboard(spark, Seq(("forged", c.kind, dir)))
        .collect().filter(!_.getBoolean(2)).map(_.getString(1)).toSet
      assert(failedRows == Set(c.chk, "healthy"), s"${c.chk}: $failedRows")
    }
    // the same DSIR forgery as a pre-manifest artifact: adoption runs the
    // list and refuses it, writing no manifest
    val pre = java.nio.file.Files.createTempDirectory("forged_pre").toString
    dsir.forge(pre)
    val fs = SwapManifest.fsOf(spark, pre)
    (SwapManifest.ManifestName +: dsir.tables.map(t =>
        s"$t/${SwapManifest.VersionName}"))
      .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(s"$pre/$f"), false))
    val e = intercept[IllegalArgumentException](
      DsirIndex.adoptManifest(spark, pre))
    assert(e.getMessage.contains("failed check: range"), e.getMessage)
    assert(SwapManifest.readManifest(fs, pre).isEmpty)
  }

  // -------------------------------------- q124/q125 version QA operators

  test("corpusDiff emits exactly the added/removed/changed rows") {
    val oldV = Seq((1L, "same"), (2L, "gone"), (3L, "before"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val newV = Seq((1L, "same"), (3L, "after"), (6L, "fresh"),
      (4L, null.asInstanceOf[String]), (5L, "now has text"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.corpusDiff(oldV, newV).orderBy("doc_id")
      .as[(Long, String)].collect()
    // 1: unchanged (absent); 4: null -> null unchanged (absent)
    assert(got === Array((2L, "removed"), (3L, "changed"),
      (5L, "changed"), (6L, "added")))
  }

  test("vocabDrift ranks one-sided vocabulary above shared vocabulary") {
    val oldV = Seq.tabulate(10)(i => (i.toLong, "common only_old")).toDF("doc_id", "text")
    val newV = Seq.tabulate(10)(i => (100L + i, "common only_new")).toDF("doc_id", "text")
    val got = Retrieval.vocabDrift(oldV, newV, k = 3, minCount = 5L)
      .select("term", "drift").as[(String, Double)].collect().toMap
    assert(got.keySet === Set("common", "only_old", "only_new"))
    assert(got("only_old") > got("common") && got("only_new") > got("common"))
    assert(got("common") === 1.0) // identical relative frequency
  }

  test("hardNegatives skips the rank-positives and ceilings out near-dups") {
    implicit val s = spark
    // orthogonal-ish basis + a near-duplicate of the query direction
    val mk = (id: Long, hot: Int, v: Float) =>
      (id, Array.tabulate(64)(i => if (i == hot) v else 0.001f))
    val corpus = Seq(
      mk(1L, 0, 1f), //   near-dup of the query (cos ~1) -> ceiling-excluded
      mk(2L, 1, 1f), mk(3L, 2, 1f), mk(4L, 3, 1f), mk(5L, 4, 1f)
    ).toDF("vec_id", "embedding")
    val query = Seq(mk(100L, 0, 1f)).toDF("vec_id", "embedding")
    val got = graft.llm.SimilaritySearch.hardNegatives(corpus, query,
      k = 2, skip = 1, dupCeiling = 0.95)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    // vec 1 is gone via the ceiling; the best survivor (rank 1) is the
    // skipped positive; ranks 2..3 are the returned hard negatives
    assert(!got.contains(1L), "near-dup must be ceiling-excluded")
    assert(got.size === 2 && got.values.toSeq.sorted === Seq(2, 3))
  }

  test("shardManifest tiles the global order exactly: spans abut, counts sum") {
    val got = TextAnalysis.shardManifest(docs, "source",
      tokenBudget = 70000L, maxEpochs = 3, shardSize = 100L)
      .orderBy("shard")
      .select("shard", "n_rows", "start_ord", "end_ord")
      .as[(Long, Long, Long, Long)].collect()
    val total = TextAnalysis.epochTrainingOrder(docs, "source",
      tokenBudget = 70000L, maxEpochs = 3).count()
    assert(got.map(_._2).sum === total)
    got.zipWithIndex.foreach { case ((shard, n, lo, hi), i) =>
      assert(shard === i.toLong, "shard ids dense from 0")
      assert(lo === i * 100L + 1 && hi === lo + n - 1, s"span of shard $i")
      assert(n === 100L || i === got.length - 1, "only the last shard is short")
    }
  }

  test("DeconIndex.probe composes with a document stream (ingest-time scrub)") {
    // The persisted-index form of the ingest-time decontamination guard:
    // probe's anti-join is stream-static legal, so the SAME stored
    // benchmark artifact scrubs batch corpora and the ingest stream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("decon_stream_spec").toString
    graft.llm.DeconIndex.build(
      Seq((100L, "the exact benchmark question")).toDF("doc_id", "text"), dir)
    val source = MemoryStream[(Long, String)]
    val q = graft.llm.DeconIndex.probe(source.toDF().toDF("doc_id", "text"), dir)
      .writeStream.format("memory").queryName("decon_idx_out")
      .outputMode("append").start()
    try {
      source.addData((1L, "the exact benchmark question"), (2L, "clean doc"),
        (3L, "the exact  benchmark question!!"), (4L, "another clean doc"))
      q.processAllAvailable()
      val kept = spark.table("decon_idx_out").select("doc_id").as[Long]
        .collect().sorted
      assert(kept === Array(2L, 4L))
    } finally q.stop()
  }

  test("DeconIndex.winnowProber: streaming verdict == batch winnow gate, embedded passage caught") {
    // The winnow probe wired stream-static: the exact gate above misses
    // an EMBEDDED benchmark passage (whole-doc fingerprint differs);
    // the winnow gate catches it, and its per-row-expression form runs
    // legally inside an append-mode stream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("decon_winnow_stream").toString
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    graft.llm.DeconIndex.build(
      Seq((100L, passage)).toDF("doc_id", "text"), dir)
    val corpus = Seq(
      (1L, s"novel intro then $passage and a novel ending"), // embedded quote
      (2L, "completely unrelated prose about query planning"),
      (3L, passage),                                          // verbatim
      (4L, null.asInstanceOf[String]))                        // degenerate
    // batch reference: the served winnow gate
    val batch = graft.llm.DeconIndex.probeWinnow(
        corpus.toDF("doc_id", "text"), dir, minShared = 2L)
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(!batch(0)._3, "embedded passage must be flagged")
    assert(batch(1)._3 && !batch(2)._3 && batch(3)._3)
    // the per-row reformulation agrees in batch...
    val prober = graft.llm.DeconIndex.winnowProber(spark, dir, minShared = 2L)
    val rowForm = prober(corpus.toDF("doc_id", "text"))
      .select("doc_id", "n_shared", "kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rowForm === batch)
    // ...and verbatim on a replayed MemoryStream
    val source = MemoryStream[(Long, String)]
    val q = prober(source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("decon_winnow_out")
      .outputMode("append").start()
    try {
      source.addData(corpus.filter(_._2 != null): _*)
      q.processAllAvailable()
      val streamed = spark.table("decon_winnow_out")
        .select("doc_id", "n_shared", "kept")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      assert(streamed === batch.filter(_._1 != 4L))
    } finally q.stop()
  }

  // Ivf/Bpe/Unigram torn-stamp refusals are pinned in their own suites;
  // this covers the four lifecycles that gained the manifest in round 18.
  test("SwapManifest parity: dsir/classifier/decon/dedup refuse a torn stamp and report it") {
    import graft.llm.SwapManifest
    val bench = docs.filter(col("doc_id") % 50 === 0)
    // (name, build-at-dir, table to tear, serve call that must refuse)
    val cases: Seq[(String, String => Unit, String, String => Unit)] = Seq(
      ("dsir",
        d => graft.llm.DsirIndex.build(docs, bench, d, buckets = 1024),
        "raw_counts",
        d => graft.llm.DsirIndex.score(spark, d, docs).count()),
      ("classifier",
        d => graft.llm.ClassifierIndex.build(docs, d, 500L),
        "model",
        d => graft.llm.ClassifierIndex.score(spark, d, docs).count()),
      ("decon",
        d => graft.llm.DeconIndex.build(bench, d, n = 5),
        "grams",
        d => graft.llm.DeconIndex.overlap(docs, d).count()),
      ("dedup",
        d => graft.llm.DedupIndex.build(docs, d),
        "bands",
        d => graft.llm.DedupIndex.probe(docs.limit(5), d).count()))
    for ((name, build, table, serve) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory(s"man_$name").toString
      build(dir)
      serve(dir) // a fresh build serves
      val fs = SwapManifest.fsOf(spark, dir)
      val stamp = new org.apache.hadoop.fs.Path(s"$dir/$table/_graft_version")
      val out = fs.create(stamp, true)
      try out.write("some-other-version".getBytes("UTF-8")) finally out.close()
      val e = intercept[IllegalStateException](serve(dir))
      assert(e.getMessage.contains("version check") &&
        e.getMessage.contains(table), s"$name: ${e.getMessage}")
      val h = graft.llm.SwapManifest.staleTables(fs, dir)
      assert(h._1 && h._2 == Seq(table), s"$name staleTables: $h")
    }
  }

  test("registry: 247 uniquely-named queries, 243 oracle-checked, qNN prefixes unique") {
    val all = graft.queries.Registry.all
    assert(all.size === 247)
    assert(all.count(_.oracle.isDefined) === 243)
    assert(all.map(_.name).distinct.size === all.size, "duplicate query names")
    // Bench's stdout artifact abbreviates to the qNN prefix — collisions
    // would silently merge two queries' timings
    val prefixes = all.map(_.name.takeWhile(_ != '_'))
    assert(prefixes.distinct.size === prefixes.size, "qNN prefix collision")
    // only q13 (HLL), q59 (approx percentile), q94 (zlib) and q103 (HLL
    // profile) may lack an oracle — anything else unoracled is an
    // unchecked operator
    val rowsOnly = all.filter(_.oracle.isEmpty).map(_.name).sorted
    assert(rowsOnly === Vector("q103_profile_approx", "q13_approx_distinct",
      "q59_approx_percentiles", "q94_compression_ratio"),
      s"unexpected rows-only queries: $rowsOnly")
  }

  test("gopherRules: each gate trips on its own planted violation, exactly at the boundary") {
    val corpus = Seq(
      // passes everything: 6 words in [5,100], mean len 3..10, no
      // symbols, all alphabetic, two required hits
      (1L, "the quick brown foxes and hounds"),
      (2L, "the cat"), //                      too few words (min 5)
      (3L, "a a a a of"), //                   mean word len 7/5 < 3
      (4L, "the #tag # work and more stuff"), // 2 symbols in 7 words > 10%
      (5L, "the 99 88 77 66 55 44 and"), //    2/8 alphabetic < 80%
      (6L, "just some random words here now")  // zero required hits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(corpus, minWords = 5L,
      maxWords = 100L, requiredWords = Seq("the", "a", "and", "of", "to"),
      minRequiredHits = 2)
      .orderBy("doc_id")
      .select("doc_id", "ok_word_count", "ok_mean_word_len",
        "ok_symbol_ratio", "ok_alpha_words", "ok_required_words", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    assert(got(0) === ((1L, true, true, true, true, true, true)))
    assert(!got(1)._2 && !got(1)._7) //  word count
    assert(!got(2)._3 && !got(2)._7) //  mean word length
    assert(!got(3)._4 && !got(3)._7) //  symbol ratio
    assert(!got(4)._5 && !got(4)._7) //  alpha fraction
    assert(!got(5)._6 && !got(5)._7) //  required words
    // null text: every positive gate false, keep false, no crash
    val nullRow = TextAnalysis.gopherRules(
      Seq((9L, null: String)).toDF("doc_id", "text"), minWords = 1L)
      .select("keep").as[Boolean].head()
    assert(!nullRow)
  }

  test("gopherFilter == semi-join on gopherRules.keep (the stream-safe gate)") {
    val viaFilter = TextAnalysis.gopherFilter(docs, minWords = 30L)
      .select("doc_id").as[Long].collect().sorted
    val viaJoin = docs.join(
      TextAnalysis.gopherRules(docs, minWords = 30L)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().sorted
    assert(viaFilter === viaJoin)
    assert(viaFilter.nonEmpty && viaFilter.length < docs.count())
  }

  test("filterFunnel: checked counts chain, failures attribute to the FIRST failing rule") {
    val corpus = Seq(
      (1L, "the quick brown foxes and hounds run"), // passes all
      (2L, "the cat"), //                              fails rule 0 (word count)
      (3L, "a a a a a of men"), //                     fails rule 1 (mean len)
      (4L, "just some random other words here now")   // fails rule 4 only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.filterFunnel(corpus, minWords = 5L, maxWords = 100L)
      .orderBy("rule_no")
      .select("rule", "n_checked", "n_failed", "n_surviving")
      .as[(String, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === Seq("ok_word_count", "ok_mean_word_len",
      "ok_symbol_ratio", "ok_alpha_words", "ok_required_words"))
    // funnel chains: each rule checks exactly the previous survivors
    assert(got.head._2 === 4L)
    got.sliding(2).foreach {
      case Array(a, b) => assert(b._2 === a._4)
      case _ => ()
    }
    assert(got.forall(r => r._2 === r._3 + r._4))
    // doc 3's mean-len failure lands on rule 1, doc 4's on rule 4
    assert(got(0)._3 === 1L && got(1)._3 === 1L && got(4)._3 === 1L)
    assert(got(4)._4 === 1L) // only doc 1 survives the whole funnel
  }

  test("surprisalBuckets: thirds are exact, head holds the lowest surprisal, all docs present") {
    val got = Retrieval.surprisalBuckets(docs,
      docs.filter(col("doc_id") % 4 === 0))
      .select("doc_id", "s_scaled", "rnk", "bucket")
      .as[(Long, Long, Long, String)].collect()
    val n = docs.count()
    assert(got.length === n)
    val byBucket = got.groupBy(_._4).view.mapValues(_.length).toMap
    assert(byBucket("head") === n / 3)
    assert(byBucket("head") + byBucket("middle") === 2 * n / 3)
    // bucket order respects the score order: max(head) <= min(tail)
    val headMax = got.filter(_._4 == "head").map(_._2).max
    val tailMin = got.filter(_._4 == "tail").map(_._2).min
    assert(headMax <= tailMin)
    // rnk is a dense 1..n total order
    assert(got.map(_._3).sorted.toSeq === (1L to n).toSeq)
  }

  test("dupEdges == jaccardPairs(0.5) ∪ containmentPairs(0.8) off one shared pass") {
    val jacc = DedupOps.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      maxDf = Some(64L)).select("id_a", "id_b")
    val cont = DedupOps.containmentPairs(docs, n = 3, threshold = 0.8,
      maxDf = Some(64L)).select("id_a", "id_b")
    val expect = jacc.union(cont).distinct()
      .as[(Long, Long)].collect().toSet
    val got = DedupOps.dupEdges(docs, n = 3, jaccThreshold = 0.5,
      contThreshold = 0.8, maxDf = Some(64L))
      .as[(Long, Long)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("packEfficiency: exact per-shard fill report, overfull bins exceed 1000 permille") {
    // budget 8: shard 0 has an overstuffed bin (11) and a tail bin (3)
    // → 14/16 = 875‰; shard 1 one exact-fit bin → 1000‰
    val packed = Seq(
      (10L, 0L, 0L, 6L), (11L, 0L, 0L, 5L), (12L, 0L, 1L, 3L),
      (13L, 1L, 0L, 8L)
    ).toDF("doc_id", "shard", "bin", "n_tokens")
    val rep = TextAnalysis.packEfficiency(packed, budgetTokens = 8L)
      .select("shard", "n_bins", "n_docs", "n_tokens", "min_fill",
        "max_fill", "fill_permille")
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(rep.toSeq === Seq((0L, 2L, 3L, 14L, 3L, 11L, 875L),
      (1L, 1L, 1L, 8L, 8L, 8L, 1000L)))
  }

  test("packSpanning: sequences fill to exactly L, docs straddle boundaries, slices tile") {
    // token counts 5, 6, 4 at L = 8: whatever the salted order, the
    // concatenation is 15 tokens => seq 0 holds exactly 8, seq 1 the
    // remaining 7; some doc MUST straddle the boundary.
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5"),
      (2L, "b1 b2 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4"),
      (4L, "")).toDF("doc_id", "text") // zero tokens: no rows
    val nTok = size(filter(graft.llm.TextFunctions.words(coalesce(col("text"), lit(""))),
      w => w =!= "")).cast("long")
    val got = TextAnalysis.packSpanning(docs, nTok, seqLen = 8L)
      .orderBy("seq_id", "seq_off")
      .select("seq_id", "doc_id", "doc_off", "seq_off", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect()
    // per-sequence totals: full L except the last
    val bySeq = got.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(bySeq === Map(0L -> 8L, 1L -> 7L))
    // per-document slices reassemble the document exactly
    val byDoc = got.groupBy(_._2).view
      .mapValues(rs => (rs.map(_._5).sum, rs.map(_._3).min)).toMap
    assert(byDoc === Map(1L -> ((5L, 0L)), 2L -> ((6L, 0L)), 3L -> ((4L, 0L))))
    assert(!got.exists(_._2 == 4L))
    // within each sequence, slices tile without gap or overlap
    got.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.head._4 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 === b._4)
        case _ => ()
      }
    }
    // at least one document straddles (appears in both sequences)
    assert(got.groupBy(_._2).exists(_._2.map(_._1).distinct.length > 1))
  }

  test("packSpanning: slice offsets are consistent with the doc's own token range") {
    val nTok = size(filter(graft.llm.TextFunctions.words(coalesce(col("text"), lit(""))),
      w => w =!= "")).cast("long")
    val got = TextAnalysis.packSpanning(docs.limit(50), nTok, seqLen = 64L)
      .select("seq_id", "doc_id", "doc_off", "seq_off", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect()
    // doc_off starts at 0 per doc and advances by the slice sizes
    got.groupBy(_._2).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.head._3 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 + a._5 === b._3)
          assert(b._1 === a._1 + 1) // consecutive slices = consecutive seqs
        case _ => ()
      }
    }
  }

  test("token samplers: an all-empty corpus yields no rows, not a division error") {
    // every source at zero tokens makes w_total = 0; the quota division
    // must be guarded (ANSI mode would raise), and both samplers should
    // simply emit nothing
    val empty = Seq((1L, "web", ""), (2L, "books", "")).toDF("doc_id", "source", "text")
    assert(TextAnalysis.mixtureSampleTokens(empty, "source", tokenBudget = 100L).isEmpty)
    assert(TextAnalysis.epochMixtureTokens(empty, "source", tokenBudget = 100L).isEmpty)
  }

  test("mixtureSampleTokens fills each source's token quota, overshooting at most one doc") {
    val got = TextAnalysis.mixtureSampleTokens(docs, "source", tokenBudget = 2000L)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // recompute quotas independently (whitespace tokens, empties excluded)
    val toks = docs.select(col("source"),
      size(filter(split(col("text"), " ", -1), w => w =!= "")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("tok"))
      .as[(String, Long)].collect().toMap
    val w = toks.view.mapValues(t => math.floor(math.sqrt(t.toDouble) * 10000 + 0.5).toLong).toMap
    val quotas = w.view.mapValues(x => 2000L * x / w.values.sum).toMap
    got.groupBy(_._2).foreach { case (src, rows) =>
      val cum = rows.map(_._5).max
      val last = rows.maxBy(_._4)
      // exclusive prefix of every selected doc is under quota; the final
      // cumulative is allowed to overshoot by (at most) the last doc
      rows.foreach(r => assert(r._5 - r._3 < quotas(src), s"$src over-filled"))
      assert(cum >= quotas(src) - 0 || rows.length == docsPerSource(src),
        s"$src under-filled: cum=$cum quota=${quotas(src)}")
      assert(cum - last._3 < quotas(src))
    }
    def docsPerSource(src: String): Int =
      docs.filter(col("source") === src).count().toInt
  }

  test("mixtureSampleTokens: null text counts 0 tokens and never poisons the running sum") {
    // size(null) is NULL under ANSI — un-coalesced it would render a null
    // n_tokens AND make every later cum_tokens in an all-null cell prefix
    // NULL (PrefixRank's non-null sums contract). One source, generous
    // budget: every row must come back with exact integer accounting.
    val corpus = Seq(
      (1L, Some("alpha bravo charlie")), (2L, None),
      (3L, Some("delta echo")), (4L, None), (5L, Some("foxtrot"))
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = TextAnalysis.mixtureSampleTokens(corpus, "source", tokenBudget = 100L)
      .orderBy("rnk")
      .select("doc_id", "n_tokens", "rnk", "cum_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 5, "null-text rows must not be dropped")
    assert(got.map(_._2).sum === 6L, "3 + 0 + 2 + 0 + 1 whitespace tokens")
    assert(got.map(_._3).toSeq === (1L to 5L), "contiguous rank")
    // inclusive running sum is exact and never null
    assert(got.scanLeft(0L)(_ + _._2).tail.toSeq === got.map(_._4).toSeq)
  }

  test("trainingOrder is a contiguous rank, stable under input reordering") {
    val docs = Tables.documents(spark, sfDir).limit(60)
    val a = TextAnalysis.trainingOrder(docs, "epoch0")
      .orderBy("ord").as[(Long, Long, Long)].collect()
    val b = TextAnalysis.trainingOrder(docs.repartition(7).sortWithinPartitions(col("text")), "epoch0")
      .orderBy("ord").as[(Long, Long, Long)].collect()
    assert(a === b, "order must not depend on input partitioning/order")
    assert(a.map(_._3).toSeq === (1L to a.length).toSeq, "rank must be contiguous from 1")
    // a different salt reshuffles (pure function of content+salt)
    val c = TextAnalysis.trainingOrder(docs, "epoch1")
      .orderBy("ord").as[(Long, Long, Long)].collect()
    assert(c.map(_._1).toSeq !== a.map(_._1).toSeq, "salt must change the order")
  }

  test("fuzzyDecontaminated drops partial quotes exact fingerprinting misses") {
    val bench = Seq((900L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // 60%+ of this doc's 5-grams come verbatim from the benchmark, but
      // the framing words make the exact fingerprint differ
      (1L, "quote follows alpha bravo charlie delta echo foxtrot golf hotel india juliet end"),
      (2L, "completely unrelated words about kafka topics and avro schemas here"),
      (3L, "short doc")).toDF("doc_id", "text")
    val keptFuzzy = TextAnalysis.fuzzyDecontaminated(corpus, bench, n = 5,
      maxOverlap = 0.5).select("doc_id").as[Long].collect().toSet
    assert(keptFuzzy === Set(2L, 3L), s"got $keptFuzzy")
    // the exact gate keeps the partial quote — that is the gap q99 closes
    val keptExact = TextAnalysis.decontaminated(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(keptExact === Set(1L, 2L, 3L))
  }

  // ------------------------------------------------ q95 language confidence

  test("languageIdConfidence: unanimous text is confident, ambiguous is not") {
    // "der die das und ist" are exclusively German stopwords (margin 5-0);
    // "la" is both a Spanish and a French stopword (tie => margin 0).
    val corpus = Seq(
      (1L, "der die das und ist", "de"),
      (2L, "la la la", "es")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.languageIdConfidence(corpus)
      .select("doc_id", "pred_lang", "margin", "is_confident")
      .as[(Long, String, Long, Int)].collect().sortBy(_._1)
    assert(r(0) === ((1L, "de", 5L, 1)))
    assert(r(1)._3 === 0L && r(1)._4 === 0)
  }

  // ------------------------------------------------ q201 lang agreement

  test("languageIdAgreement: matrix mass = corpus size, diagonal = is_match mass") {
    val corpus = Seq(
      (1L, "der die das und ist", "de"),   // unanimous German → diagonal
      (2L, "la la la", "es"),              // es/fr tie → heuristic picks one
      (3L, "the and is of to", "zh")       // mislabeled: reads English
    ).toDF("doc_id", "text", "lang")
    val m = TextAnalysis.languageIdAgreement(corpus)
      .select("labeled_lang", "pred_lang", "n_docs")
      .as[(String, String, Long)].collect()
    assert(m.map(_._3).sum === 3L)
    val diag = m.filter(r => r._1 == r._2).map(_._3).sum
    val matches = TextAnalysis.languageId(corpus)
      .agg(org.apache.spark.sql.functions.sum("is_match")).as[Long].head()
    assert(diag === matches)
    // the planted mislabel lands off-diagonal
    assert(m.exists(r => r._1 == "zh" && r._2 == "en" && r._3 == 1L))
  }

  // ------------------------------------------------ q202 split leakage

  test("splitLeakage: cells partition the edge count; degenerate split is one cell") {
    val base = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, base + " extra"),                 // near-clone of 1
      (3L, "completely different words about kafka topics and avro schemas flowing"),
      (4L, "completely different words about kafka topics and avro schemas flowing here")
    ).toDF("doc_id", "text")
    val nEdges = graft.llm.DedupOps.dupEdges(corpus, n = 3,
      jaccThreshold = 0.5, contThreshold = 0.8).count()
    assert(nEdges >= 2L) // both planted clone pairs survive
    val lk = TextAnalysis.splitLeakage(corpus).collect()
    assert(lk.map(_.getLong(2)).sum === nEdges)
    lk.foreach(r => assert(r.getString(0) <= r.getString(1)))
    // trainPct = valPct = 0 routes every doc to 'test': one (test,test) cell
    val lk0 = TextAnalysis.splitLeakage(corpus, trainPct = 0, valPct = 0)
      .collect()
    assert(lk0.length === 1)
    assert(lk0.head.getString(0) === "test" && lk0.head.getString(1) === "test")
    assert(lk0.head.getLong(2) === nEdges)
  }

  // ------------------------------------------------ q206 repetition coverage

  test("repetitionCoverage: exact char coverage per rung on a planted repeater") {
    val corpus = Seq(
      (1L, "a b a b a b"),                      // 11 chars, 6 words
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionCoverage(corpus)
      .select("doc_id", "n", "n_chars", "top_cov", "dup_cov")
      .as[(Long, Int, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
    // doc 1: "a b"x3 "b a"x2 (len 3); "a b a"x2 "b a b"x2 (len 5);
    //        "a b a b"x2 "b a b a"x1 (len 7); width-5 grams unique; no width-10
    assert(r((1L, 2)) === ((11L, 9L, 15L)))
    assert(r((1L, 3)) === ((11L, 10L, 20L)))
    assert(r((1L, 4)) === ((11L, 14L, 14L)))
    assert(r((1L, 5)) === ((11L, 9L, 0L)))
    assert(r((1L, 10)) === ((11L, 0L, 0L)))
    // all-distinct doc: zero duplicated mass at every rung
    Seq(2, 3, 4, 5, 10).foreach(n => assert(r((2L, n))._3 === 0L))
    // null text: zero everything, rows still present
    Seq(2, 3, 4, 5, 10).foreach(n => assert(r((3L, n)) === ((0L, 0L, 0L))))
  }

  // ------------------------------------------------ q207 DSIR stored tokenizer

  test("DsirIndex: stored tokenizer drives score; pre-tokenizer layout refuses") {
    import graft.llm.DsirIndex
    val corpus = Seq(
      (1L, "The quick Brown fox!"),
      (2L, "the quick brown fox"),
      (3L, "wholly novel content sits here")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") === 2L)
    val dir = java.nio.file.Files.createTempDirectory("dsir_uni_spec").toString
    DsirIndex.build(corpus, target, dir, buckets = 1024,
      tok = graft.llm.DedupOps.Tokenizer.Unicode)
    val stored = DsirIndex.score(spark, dir, corpus)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val inline = Retrieval.dsirScores(corpus, target, buckets = 1024,
      tok = graft.llm.DedupOps.Tokenizer.Unicode)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(stored.toSeq === inline.toSeq)
    // under the stored Unicode surface the case/punct clone scores
    // exactly like the clean target text
    assert(stored(0)._2 === stored(1)._2 && stored(0)._3 === stored(1)._3)
    // healthCheck reports the stored surface
    val h = DsirIndex.healthCheck(spark, dir).head()
    assert(h.getAs[String]("tok") === "unicode" && h.getAs[Boolean]("tok_ok"))
    // a params row written by the pre-tokenizer layout refuses loudly
    val dir2 = java.nio.file.Files.createTempDirectory("dsir_old_spec").toString
    DsirIndex.build(corpus, target, dir2, buckets = 1024)
    val p = spark.read.parquet(s"$dir2/params").drop("dtok")
    p.write.mode("overwrite").parquet(s"$dir2/params_tmp")
    spark.read.parquet(s"$dir2/params_tmp").write.mode("overwrite")
      .parquet(s"$dir2/params")
    restamp(dir2, Seq("target_counts", "raw_counts", "params"))
    val e = intercept[IllegalArgumentException] {
      DsirIndex.score(spark, dir2, corpus).count()
    }
    assert(e.getMessage.contains("predates the stored-tokenizer layout"),
      e.getMessage)
    val h2 = DsirIndex.healthCheck(spark, dir2).head()
    assert(!h2.getAs[Boolean]("tok_ok") && !h2.getAs[Boolean]("healthy"))
  }

  // ------------------------------------------------ q208 stream DSIR score

  test("DsirIndex.scorer: per-row gate equals batch score row-for-row") {
    import graft.llm.DsirIndex
    val corpus = Seq(
      (1L, Option("the quick brown fox jumps over the lazy dog")),
      (2L, Option("the quick brown fox")),
      (3L, Option("solo")),                        // < 2 words: n_feats 0
      (4L, None: Option[String])                   // null text: n_feats 0
    ).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") === 2L)
    val dir = java.nio.file.Files.createTempDirectory("dsir_stream_spec").toString
    DsirIndex.build(corpus, target, dir, buckets = 1024)
    val batch = DsirIndex.score(spark, dir, corpus)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val perRow = DsirIndex.scorer(spark, dir)(corpus)
      .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(perRow.toSeq === batch.toSeq)
    assert(perRow.find(_._1 == 3L).get._2 === 0L)
    assert(perRow.find(_._1 == 4L).get._2 === 0L)
  }

  // ------------------------------------------------ q94 compression ratio

  test("compressionRatio: boilerplate compresses below prose, noise above it") {
    val rnd = new scala.util.Random(42)
    val corpus = Seq(
      (1L, "buy now " * 200), //                      template spam
      (2L, docs.select("text").as[String].head()), // natural-ish prose
      (3L, Array.fill(400)((rnd.nextInt(93) + 33).toChar).mkString) // true noise
    ).toDF("doc_id", "text")
    val r = TextAnalysis.compressionRatio(corpus)
      .select("doc_id", "compression_ratio").as[(Long, Double)].collect().toMap
    assert(r(1L) < r(2L), s"spam ${r(1L)} should compress below prose ${r(2L)}")
    assert(r(2L) < r(3L), s"prose ${r(2L)} should compress below noise ${r(3L)}")
  }

  test("compressionRatio is deterministic and covers the empty doc") {
    val corpus = Seq((1L, ""), (2L, "a b c")).toDF("doc_id", "text")
    val a = TextAnalysis.compressionRatio(corpus).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    val b = TextAnalysis.compressionRatio(corpus).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(a === b)
    // empty input still emits the 2-byte empty DEFLATE block; the ratio
    // guard reports 0.0 rather than dividing by zero
    assert(a.head === ((1L, 0L, 2L, 0.0)))
  }

  // -------------------------------------------------- q91/q92 heavy hitters

  test("heavyHitterTermsSketch: exact in the no-eviction regime") {
    val exact = Retrieval.heavyHitterTerms(docs, k = 20)
      .as[(String, Long, Int)].collect()
    val sk = Retrieval.heavyHitterTermsSketch(docs, k = 20, maxTracked = 4096)
      .as[(String, Long, Int)].collect()
    assert(sk === exact)
  }

  test("heavyHitterTermsSketch: approx regime keeps the frequent-items guarantee") {
    // maxTracked = 16 is far below the vocabulary: eviction happens,
    // estimates may overcount — but any term with true count > N/16 must
    // be PRESENT and its estimate error bounded by N/16.
    val exact = Retrieval.heavyHitterTerms(docs, k = 1000)
      .as[(String, Long, Int)].collect()
    val n = exact.map(_._2).sum
    val bound = n / 16
    val sk = Retrieval.heavyHitterTermsSketch(docs, k = 1000, maxTracked = 16)
      .as[(String, Long, Int)].collect()
    val skMap = sk.map(r => r._1 -> r._2).toMap
    for ((term, cnt, _) <- exact if cnt > bound) {
      assert(skMap.contains(term), s"guaranteed heavy hitter '$term' missing")
      assert(math.abs(skMap(term) - cnt) <= bound,
        s"'$term' estimate ${skMap(term)} vs exact $cnt exceeds N/16=$bound")
    }
  }

  test("sketch heavy hitters runs on a document stream (complete mode)") {
    // Ingest-time vocabulary monitoring: the same approx_top_k aggregate
    // as q92, in a streaming complete-mode aggregation — sketch state
    // merges across micro-batches, no vocabulary-wide shuffle.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val stream = source.toDF().toDF("text")
    val q = stream
      .select(explode(split(col("text"), " ")).as("term"))
      .agg(expr("approx_top_k(term, 64, 64)").as("tk"))
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    try {
      source.addData("a a a b", "b c")
      q.processAllAvailable()
      source.addData("a d d")
      q.processAllAvailable()
      val top = spark.table("hh_out").selectExpr("explode(tk) AS e")
        .selectExpr("e.item", "e.count").as[(String, Long)].collect().toMap
      assert(top === Map("a" -> 4L, "b" -> 2L, "d" -> 2L, "c" -> 1L))
    } finally q.stop()
  }

  // ------------------------------------------------------ IVF index lifecycle

  private lazy val embeddings = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  // per-run unique root: a fixed /tmp path would read STALE indexes from a
  // previous sbt run (old code could pass fresh tests) and breaks testOnly
  // isolation; lazy fixtures build each index exactly once per run.
  private lazy val specTmp =
    java.nio.file.Files.createTempDirectory("graft_corpus_spec_").toString
  private lazy val ivfDir = {
    val d = s"$specTmp/ivf"
    graft.llm.IvfIndex.build(embeddings, d, nCells = 16, iters = 2)
    d
  }
  private lazy val ivfPqDir = {
    val d = s"$specTmp/ivfpq"
    graft.llm.IvfIndex.buildPq(embeddings, d, nCells = 16, iters = 2)
    d
  }

  /** Non-empty PartitionFilters entry mentioning `cell` — an empty list
    * also renders as "PartitionFilters: []", so contains() is vacuous. */
  private def hasCellPartitionFilter(plan: String): Boolean =
    "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined

  test("IvfIndex: build once + search equals the inline IVF operator") {
    val queries = embeddings.filter(col("vec_id") % 100 === 7)
    val fromIndex = graft.llm.IvfIndex.search(queries, ivfDir, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val inline = graft.llm.SimilaritySearch.ivfTopKWith(
      embeddings, queries, k = 5,
      graft.llm.IvfIndex.centroids(spark, ivfDir), nprobe = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty)
  }

  test("IvfIndex: search scans only the probed cell partitions") {
    val one = embeddings.filter(col("vec_id") === 7)
    val res = graft.llm.IvfIndex.search(one, ivfDir, k = 5, nprobe = 2)
    res.count()
    val plan = res.queryExecution.executedPlan.toString
    assert(hasCellPartitionFilter(plan), s"no cell partition pruning: $plan")
  }

  test("IvfIndex: IVF-PQ search with all cells probed equals full ADC scoring") {
    val queries = embeddings.filter(col("vec_id") % 100 === 7)
    // nprobe = nCells: no candidate is pruned, so the persisted-code path
    // must reproduce the inline full-corpus ADC ranking exactly (floats
    // round-trip parquet bit-identically; same codebook cut).
    val fromIndex = graft.llm.IvfIndex.searchPq(queries, ivfPqDir, k = 5, nprobe = 16)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val inline = graft.llm.SimilaritySearch.adcTopK(embeddings, queries, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty)
  }

  test("IvfIndex: PQ search plan reads codes only — no embedding column") {
    val one = embeddings.filter(col("vec_id") === 7)
    val res = graft.llm.IvfIndex.searchPq(one, ivfPqDir, k = 5, nprobe = 2)
    res.count()
    val plan = res.queryExecution.executedPlan.toString
    assert(hasCellPartitionFilter(plan), s"no cell partition pruning: $plan")
    val codesScan = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("codes")).mkString
    assert(codesScan.nonEmpty && !codesScan.contains("embedding"),
      s"the code scan must not read embeddings: $codesScan")
  }

  test("hybridTopKIvf at full probes+refine == hybridTopK (brute-force dense)") {
    val d = s"$specTmp/hybrid_ivf"
    val corpus = embeddings.join(docs.select(col("doc_id")),
      embeddings("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"))
    graft.llm.IvfIndex.buildPq(corpus, d, nCells = 16, iters = 2)
    val q = embeddings.filter(col("vec_id") === 300)
    val terms = Seq("spark", "merge", "filter")
    val viaIvf = Retrieval.hybridTopKIvf(docs, d, terms, q, k = 10,
      kCand = 20, nprobe = 16, refine = Int.MaxValue)
      .orderBy("rank").as[(Long, Int, Int, Long, Int)].collect()
    val viaBrute = Retrieval.hybridTopK(docs, embeddings, terms, q, k = 10,
      kCand = 20).orderBy("rank").as[(Long, Int, Int, Long, Int)].collect()
    assert(viaIvf === viaBrute)
    assert(viaIvf.nonEmpty)
  }

  test("hybridTopKIvf: dense side reads embeddings only from probed cells") {
    val q = embeddings.filter(col("vec_id") === 7)
    val res = Retrieval.hybridTopKIvf(docs, ivfPqDir, Seq("spark"), q,
      k = 5, kCand = 5, nprobe = 2, refine = 8)
    res.count()
    val plan = res.queryExecution.executedPlan.toString
    assert(hasCellPartitionFilter(plan), s"no cell partition pruning: $plan")
  }

  test("IvfIndex: append makes new vectors searchable without a rebuild") {
    val dir = s"$specTmp/ivf_append"
    graft.llm.IvfIndex.build(embeddings.filter(col("vec_id") < 400), dir,
      nCells = 16, iters = 2)
    // append the rest; a held-out vector must now surface as a neighbor
    graft.llm.IvfIndex.append(embeddings.filter(col("vec_id") >= 400), dir)
    val queries = embeddings.filter(col("vec_id") === 401)
    val neighbors = graft.llm.IvfIndex.search(queries, dir, k = 500, nprobe = 16)
      .select("neighbor_id").as[Long].collect()
    assert(neighbors.exists(_ >= 400), "appended vectors never surfaced")
    assert(neighbors.exists(_ < 400), "built vectors lost after append")
  }

  test("IvfIndex: searchPq without buildPq names the missing table, not an NPE") {
    // ivfDir has build() only — pq_codebooks was never written; reading
    // it yields an analysis error OR (partial-write case, simulated by an
    // empty dir) the empty-aggregate guard's IllegalStateException.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$specTmp/ivf_nopq/pq_codebooks"))
    graft.llm.IvfIndex.build(embeddings.limit(100), s"$specTmp/ivf_nopq",
      nCells = 4, iters = 1)
    val queries = embeddings.filter(col("vec_id") === 7)
    val e = intercept[Exception] {
      graft.llm.IvfIndex.searchPq(queries, s"$specTmp/ivf_nopq", k = 3).collect()
    }
    assert(e.getMessage.contains("pq_codebooks"),
      s"expected an error naming pq_codebooks, got: ${e.getMessage}")
  }

  test("spanDedup: out-of-range doc_id fails loudly instead of corrupting keys") {
    // doc_id >= 2^43 breaks the doc_id*2^20+idx packing's injectivity —
    // the guard must fail the job, not silently mis-rank first occurrences.
    val span = "a b c d e f g h"
    val bad = Seq((1L << 43, s"$span $span")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      DedupOps.spanDedupStats(bad, width = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("instance-key overflow")),
      s"expected the overflow guard, got: ${messages(e).mkString(" | ")}")
  }

  test("IvfIndex: rebalanceCheck surfaces the skew a drifted append creates") {
    val dir = s"$specTmp/ivf_drift"
    graft.llm.IvfIndex.build(embeddings, dir, nCells = 16, iters = 2)
    val before = graft.llm.IvfIndex.rebalanceCheck(spark, dir)
    val skewBefore = before.select("skew").head().getDouble(0)
    assert(before.count() === 16)
    assert(skewBefore >= 1.0)
    // drift: append many copies of ONE existing vector (tiny jitter so
    // vec_ids are unique but they all route to the same cell) — the
    // frozen centroids can't re-balance, so one cell balloons
    val hot = embeddings.filter(col("vec_id") === 3)
      .crossJoin(spark.range(500).select(col("id").as("rep")))
      .select((col("vec_id") * 1000 + col("rep") + 1000000L).as("vec_id"),
        col("embedding"))
    graft.llm.IvfIndex.append(hot, dir)
    val after = graft.llm.IvfIndex.rebalanceCheck(spark, dir)
    val skewAfter = after.select("skew").head().getDouble(0)
    assert(skewAfter > 3.0 && skewAfter > skewBefore,
      s"drifted append must show up as skew: before=$skewBefore after=$skewAfter")
    // the hot cell is identifiable: its occ_ratio equals the skew
    val hotCells = after.filter(col("occ_ratio") === col("skew")).count()
    assert(hotCells >= 1)
  }

  test("IvfIndex: rebalanceCheck on an empty index reports NULL ratios, not NaN") {
    // all partitions deleted / built over nothing: mean occupancy is 0 and
    // 0/0 would emit NaN — which silently never fires a `skew > 3` alert.
    // The report must be well-defined: every cell 0, ratios NULL, every
    // centroid counted empty.
    val dir = s"$specTmp/ivf_empty"
    graft.llm.IvfIndex.build(embeddings.limit(50), dir, nCells = 4, iters = 1)
    spark.read.parquet(s"$dir/assignments").limit(0)
      .write.mode("overwrite").parquet(s"$dir/assignments")
    val rep = graft.llm.IvfIndex.rebalanceCheck(spark, dir)
      .select("n_vectors", "occ_ratio", "skew", "empty_cells")
      .as[(Long, Option[Double], Option[Double], Long)].collect()
    assert(rep.length === 4)
    assert(rep.forall { case (n, r, s, e) =>
      n == 0L && r.isEmpty && s.isEmpty && e == 4L })
  }

  test("exactThenNearDedup keeps every null-text row (no destructive null collapse)") {
    // null fingerprints group as equal under GROUP BY on both engines; the
    // exact stage must route unknown-content rows around itself instead of
    // collapsing them all onto one min-id representative.
    val corpus = Seq(
      (1L, Some("verbatim clone text")),
      (2L, Some("verbatim clone text")), // real clone: dropped
      (3L, None), (4L, None), (5L, None), // unknown content: all kept
      (6L, Some("a genuinely different document"))
    ).toDF("doc_id", "text")
    val kept = DedupOps.exactThenNearDedup(corpus)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L, 5L, 6L))
  }

  test("DedupIndex: build + probe equals the inline incrementalDedup") {
    val dir = s"$specTmp/dedup_idx_eq"
    val existing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    graft.llm.DedupIndex.build(existing, dir)
    val viaIndex = graft.llm.DedupIndex.probe(batch, dir, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    val inline = DedupOps.incrementalDedup(existing, batch, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(viaIndex === inline)
    assert(viaIndex.nonEmpty)
    // probe never mutates: a second probe answers identically
    val again = graft.llm.DedupIndex.probe(batch, dir, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(again === viaIndex)
  }

  test("DedupIndex: append commits — clones AND near-dups of appended docs drop next batch") {
    val dir = s"$specTmp/dedup_idx_append"
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
      .toDF("doc_id", "text")
    graft.llm.DedupIndex.build(corpus, dir)
    val freshTxt = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val batch1 = Seq((10L, freshTxt)).toDF("doc_id", "text")
    val kept1 = graft.llm.DedupIndex.append(batch1, dir)
      .select("doc_id").as[Long].collect()
    assert(kept1 === Array(10L))
    // batch 2: a verbatim clone and a near-dup of the doc APPENDED in
    // batch 1 (not in the original corpus), plus a genuinely new doc
    val batch2 = Seq(
      (20L, freshTxt), // clone of appended doc 10: exact stage drops it
      (21L, "kilo lima mike november oscar papa quebec romeo sierra zulu"), // near-dup of 10
      (22L, "uniform victor whiskey xray yankee zebra anchor bridge castle dragon")
    ).toDF("doc_id", "text")
    val kept2 = graft.llm.DedupIndex.append(batch2, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(kept2 === Array(22L), s"got ${kept2.mkString(",")}")
    // replaying an already-appended batch is a no-op (at-least-once safe)
    val kept3 = graft.llm.DedupIndex.probe(batch1, dir)
      .select("doc_id").as[Long].collect()
    assert(kept3.isEmpty)
  }

  test("DedupIndex: null-text appends are replay-safe (ids guard, not fingerprints)") {
    // a null-text doc has no fingerprint to suppress its replay — without
    // the ids table every replay would re-keep and re-land it, producing
    // duplicate doc_ids in the corpus
    val dir = s"$specTmp/dedup_idx_nulls"
    graft.llm.DedupIndex.build(
      Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text"), dir)
    val batch = Seq((10L, Option.empty[String]), (11L, Some("kilo lima mike november")))
      .toDF("doc_id", "text")
    val kept1 = graft.llm.DedupIndex.append(batch, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(kept1 === Array(10L, 11L), "first append keeps the null-text row")
    val replay = graft.llm.DedupIndex.append(batch, dir)
      .select("doc_id").as[Long].collect()
    assert(replay.isEmpty, s"replay re-kept ${replay.mkString(",")}")
    // a NEW null-text doc (different id) is still kept — the guard is by
    // id, never by collapsing unknown content
    val fresh = graft.llm.DedupIndex.probe(
      Seq((12L, Option.empty[String])).toDF("doc_id", "text"), dir)
      .select("doc_id").as[Long].collect()
    assert(fresh === Array(12L))
  }

  test("DedupIndex: land-before-commit — the replay guard arms only at commit") {
    val dir = s"$specTmp/dedup_idx_commit"
    graft.llm.DedupIndex.build(
      Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text"), dir)
    val batch = Seq((10L, "kilo lima mike november oscar"),
      (11L, "papa quebec romeo sierra tango")).toDF("doc_id", "text")
    val kept = graft.llm.DedupIndex.probe(batch, dir).localCheckpoint(true)
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(10L, 11L))
    // CRASH WINDOW: probe ran, nothing landed, no commit. The replay
    // must re-keep the identical rows — a guard armed at probe time
    // would drop them here and the batch would never land anywhere.
    val reprobe = graft.llm.DedupIndex.probe(batch, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(reprobe === Array(10L, 11L),
      "replay before commit must re-keep the un-landed batch")
    // caller lands kept (elsewhere, idempotently), THEN commits:
    graft.llm.DedupIndex.commit(kept, dir)
    assert(graft.llm.DedupIndex.probe(batch, dir).isEmpty,
      "after commit the replay is a no-op")
    // a retried commit (crash between land and commit-ack) is
    // idempotent: no index row is written twice
    val idsBefore = spark.read.parquet(s"$dir/ids").count()
    val shBefore = spark.read.parquet(s"$dir/shingles").count()
    graft.llm.DedupIndex.commit(kept, dir)
    assert(spark.read.parquet(s"$dir/ids").count() === idsBefore)
    assert(spark.read.parquet(s"$dir/shingles").count() === shBefore)
  }

  test("DedupIndex: compact collapses append file debris; probe answers are unchanged") {
    val dir = s"$specTmp/dedup_idx_compact"
    graft.llm.DedupIndex.build(
      Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text"), dir)
    // several appends, each landing its own file set per table
    (0 until 3).foreach { i =>
      graft.llm.DedupIndex.append(
        Seq((10L + i, s"fresh document number $i with words w$i x$i y$i z$i"))
          .toDF("doc_id", "text"), dir)
    }
    val probeBatch = Seq(
      (50L, "fresh document number 0 with words w0 x0 y0 z0"), // clone of appended
      (51L, "completely unrelated text about nothing at all")
    ).toDF("doc_id", "text")
    val before = graft.llm.DedupIndex.probe(probeBatch, dir)
      .select("doc_id").as[Long].collect().sorted
    val filesBefore = graft.pipeline.Maintenance
      .dataFiles(spark, s"$dir/ids").size
    assert(filesBefore >= 4, s"expected append debris, got $filesBefore files")
    graft.llm.DedupIndex.compact(spark, dir)
    assert(graft.pipeline.Maintenance.dataFiles(spark, s"$dir/ids").size === 1)
    val after = graft.llm.DedupIndex.probe(probeBatch, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(after === before)
    assert(after === Array(51L))
  }

  test("DedupIndex: healthCheck reports occupancy; a clone-heavy corpus flags a hot bucket") {
    // diverse corpus: every band bucket holds one doc
    val dDiv = s"$specTmp/dedup_idx_health_div"
    graft.llm.DedupIndex.build(Seq(
      (1L, "alpha bravo charlie delta echo foxtrot"),
      (2L, "golf hotel india juliet kilo lima"),
      (3L, "mike november oscar papa quebec romeo")).toDF("doc_id", "text"), dDiv)
    val div = graft.llm.DedupIndex.healthCheck(spark, dDiv)
    assert(div.count() > 0)
    assert(div.agg(max(col("max_bucket"))).head.getLong(0) === 1L)
    assert(div.head.getLong(5) === 3L) // docs_indexed
    // clone-heavy corpus (an index built WITHOUT curation): the clones
    // share every band key, stacking one hot bucket per band while the
    // diverse docs spread — max_bucket = clones, skew = max/mean > 1
    val dHot = s"$specTmp/dedup_idx_health_hot"
    val clone = "same text repeated verbatim in every document here"
    val mixed = (1L to 5L).map(i => (i, clone)) ++ Seq(
      (11L, "alpha bravo charlie delta echo foxtrot"),
      (12L, "golf hotel india juliet kilo lima"),
      (13L, "mike november oscar papa quebec romeo"),
      (14L, "sierra tango uniform victor whiskey xray"),
      (15L, "yankee zulu anchor bridge castle dragon"))
    graft.llm.DedupIndex.build(mixed.toDF("doc_id", "text"), dHot)
    val hot = graft.llm.DedupIndex.healthCheck(spark, dHot)
    assert(hot.agg(max(col("max_bucket"))).head.getLong(0) === 5L,
      "five clones must stack in one bucket per band")
    // per band: occupancies {5, 1, 1, 1, 1, 1} -> mean 10/6, skew 3.0
    assert(hot.agg(max(col("skew"))).head.getDouble(0) >= 2.5)
  }

  test("DedupIndex: streaming ingest (probe->land->commit) equals the sequential batch protocol") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "alpha bravo charlie delta echo foxtrot"))
      .toDF("doc_id", "text")
    val freshX = "kilo lima mike november oscar papa quebec romeo"
    val batchA = Seq(
      (10L, freshX),
      (11L, "alpha bravo charlie delta echo foxtrot")) // clone of corpus
    val batchB = Seq(
      (20L, freshX), //                                   clone of A's kept doc
      (21L, "kilo lima mike november oscar papa quebec zulu"), // near-dup of it
      (22L, "uniform victor whiskey xray yankee golfer hotelier indiana"))
    val dirS = s"$specTmp/dedup_ingest_stream"
    val dirB = s"$specTmp/dedup_ingest_batch"
    graft.llm.DedupIndex.build(corpus, dirS)
    graft.llm.DedupIndex.build(corpus, dirB)
    // streaming side: two micro-batches through the checkpointed pipeline
    val source = MemoryStream[(Long, String)]
    val land = s"$specTmp/dedup_ingest_land"
    val q = graft.llm.DedupIndex.ingestStream(
      source.toDF().toDF("doc_id", "text"), dirS, land,
      checkpoint = s"$specTmp/dedup_ingest_ckpt")
    try {
      source.addData(batchA: _*); q.processAllAvailable()
      source.addData(batchB: _*); q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(land)
      .select("doc_id").as[Long].collect().sorted
    // batch side: the explicit probe -> (land elsewhere) -> commit, twice
    val keptA = graft.llm.DedupIndex.probe(batchA.toDF("doc_id", "text"), dirB)
      .localCheckpoint(true)
    graft.llm.DedupIndex.commit(keptA, dirB, src = 0L)
    val keptB = graft.llm.DedupIndex.probe(batchB.toDF("doc_id", "text"), dirB)
      .localCheckpoint(true)
    graft.llm.DedupIndex.commit(keptB, dirB, src = 1L)
    val viaBatch = (keptA.select("doc_id").as[Long].collect() ++
      keptB.select("doc_id").as[Long].collect()).sorted
    assert(landed === viaBatch)
    assert(landed === Array(10L, 22L),
      "clone-of-corpus, clone-of-A and near-dup-of-A must all drop")
  }

  test("DedupIndex: a replayed ingest batch after full commit neither erases nor duplicates") {
    val dir = s"$specTmp/dedup_ingest_replay"
    val land = s"$specTmp/dedup_ingest_replay_land"
    graft.llm.DedupIndex.build(
      Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text"), dir)
    val batch = Seq((10L, "kilo lima mike november oscar"),
      (11L, "papa quebec romeo sierra tango")).toDF("doc_id", "text")
    graft.llm.DedupIndex.ingestBatch(dir, land)(batch, 7L)
    val landed1 = spark.read.parquet(land).select("doc_id")
      .as[Long].collect().sorted
    assert(landed1 === Array(10L, 11L))
    val idsN = spark.read.parquet(s"$dir/ids").count()
    // failure-recovery replay: same batchId, same offsets, AFTER the
    // commit armed the guard. Without the src-exclusion the probe would
    // answer empty and the idempotent overwrite would ERASE the batch.
    graft.llm.DedupIndex.ingestBatch(dir, land)(batch, 7L)
    val landed2 = spark.read.parquet(land).select("doc_id")
      .as[Long].collect().sorted
    assert(landed2 === landed1, "replay must not erase the landed batch")
    assert(spark.read.parquet(s"$dir/ids").count() === idsN,
      "replay must not duplicate index rows")
    // and a LATER batch still dedups against the replayed one
    val next = graft.llm.DedupIndex.probe(
      Seq((20L, "kilo lima mike november oscar")).toDF("doc_id", "text"), dir)
    assert(next.isEmpty)
  }

  test("DedupIndex: probe without build names the missing index, not a schema error") {
    val e = intercept[IllegalStateException] {
      graft.llm.DedupIndex.probe(
        Seq((1L, "a b c")).toDF("doc_id", "text"),
        s"$specTmp/dedup_idx_absent").collect()
    }
    assert(e.getMessage.contains("params"))
  }

  test("ANN recall ladder: multi-probe >= LSH, IVF monotone in nprobe, refine exact at full R") {
    import graft.llm.SimilaritySearch
    val k = 5
    val q = embeddings.filter(col("vec_id") % 5 === 2).cache()
    val exact = SimilaritySearch.bruteForceTopK(embeddings, q, k).cache()
    val denom = exact.count().toDouble
    def recall(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count() / denom
    // multi-probe candidates are supersets of single-probe — recall must
    // not drop (quantitative form of the superset property)
    val rLsh = recall(SimilaritySearch.lshCandidateTopK(
      embeddings, q, 64, k, tables = 8, nbits = 6))
    val rMp = recall(SimilaritySearch.lshMultiProbeTopK(
      embeddings, q, 64, k, tables = 8, nbits = 6))
    assert(rMp >= rLsh, s"multi-probe recall $rMp below single-probe $rLsh")
    // probes are the top-nprobe cells: candidate sets grow with nprobe,
    // so recall is monotone and hits 1.0 when every cell is probed
    val ladder = Seq(1, 2, 4, 8, 16).map(np =>
      recall(SimilaritySearch.ivfTopK(embeddings, q, k, nCells = 16, nprobe = np)))
    assert(ladder === ladder.sorted, s"IVF recall not monotone in nprobe: $ladder")
    assert(ladder.last === 1.0, s"nprobe = nCells must be exact, got ${ladder.last}")
    // refine = corpus size: ADC rejects nothing, the exact re-rank IS
    // brute force — row-identical, not merely high-recall
    val n = embeddings.count().toInt
    val refined = SimilaritySearch.adcRefinedTopK(embeddings, q, k, refine = n)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val brute = exact.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(refined === brute)
    q.unpersist(); exact.unpersist()
  }

  test("IvfIndex: searchPqRefined at full probes+refine equals the exact index search") {
    val queries = embeddings.filter(col("vec_id") % 100 === 7)
    val n = embeddings.count().toInt
    val refined = graft.llm.IvfIndex.searchPqRefined(
      queries, ivfPqDir, k = 5, nprobe = 16, refine = n)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val exact = graft.llm.IvfIndex.search(queries, ivfPqDir, k = 5, nprobe = 16)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(refined === exact)
    assert(refined.nonEmpty)
  }

  test("chunk → embed → index → search composes end-to-end (RAG shape)") {
    // The retrieval pipeline every RAG deployment runs: cut documents
    // into overlapping token windows (q85), embed each chunk (here a
    // deterministic text-hash stand-in — the real encoder is external),
    // build the persisted IVF index, search. A duplicated document's
    // chunks embed identically, so the search must surface the twin
    // chunk at cosine 1.0.
    val dir = s"$specTmp/rag"
    val base = Tables.documents(spark, sfDir).limit(50)
    val corpus = base.unionByName(
      base.filter(col("doc_id") === 7) // plant one exact duplicate doc
        .withColumn("doc_id", col("doc_id") + 100000L))
    val chunks = graft.llm.TextAnalysis.chunked(corpus, width = 32, stride = 24)
    val vecs = chunks.select(
      (col("doc_id") * 1024 + col("chunk_id")).as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(graft.llm.TextFunctions.polyHash(
          concat(col("chunk_text"), lit("#"), j.cast("string"))), lit(10007L))
          .cast("float") / 10007.0f)).as("embedding"))
    graft.llm.IvfIndex.build(vecs, dir, nCells = 8, iters = 1)
    val query = vecs.filter(col("vec_id") === 7L * 1024) // doc 7, chunk 0
    val top = graft.llm.IvfIndex.search(query, dir, k = 1, nprobe = 8)
      .select("neighbor_id", "cos").as[(Long, Double)].head()
    assert(top._1 === 100007L * 1024, "twin chunk not retrieved")
    assert(top._2 === 1.0)
  }

  // ----------------------------------------------------------- q90 Z-order

  test("zorderBy clusters BOTH dimensions; single-column sort does not") {
    // 64x64 grid, shuffled: every (x, y) once.
    val grid = spark.range(64 * 64)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    def avgSpread(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s = df.groupBy(spark_partition_id().as("p"))
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).as[(Double, Double)].head()
      s
    }
    val (zx, zy) = avgSpread(ZOrder.zorderBy(grid, col("x"), col("y"),
      bits = 6, numFiles = 16))
    val byXOnly = grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
    val (_, xyOnlyY) = avgSpread(byXOnly)
    // Z-order: each of 16 partitions covers ~1/16 of the 64x64 square —
    // both spreads well under half the domain. Sorting by x alone leaves
    // the y-extent of every partition spanning the full domain.
    assert(zx < 32 && zy < 32, s"z-order spreads ($zx, $zy)")
    assert(xyOnlyY > 60, s"x-only sort y-spread $xyOnlyY")
  }

  test("spanDedupStats matches a sequential reference on seeded random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val width = 4
    // 4-word spans over a 4-word vocabulary: 256 possible spans across
    // ~40 docs forces plenty of cross-doc collisions.
    val docGen = Gen.chooseNum(0, 30).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val corpus = (0 until 40).map(i =>
      (i.toLong, docGen.apply(Gen.Parameters.default, Seed(7L + i)).get))

    // sequential reference (strings, not hashes — collision-free ground truth)
    case class Inst(doc: Long, idx: Int, span: String)
    val insts = corpus.flatMap { case (id, text) =>
      text.split(" ", -1).filter(_.nonEmpty).grouped(width).zipWithIndex
        .collect { case (g, i) if g.length == width => Inst(id, i, g.mkString(" ")) }
    }
    val bySpan = insts.groupBy(_.span)
    val removed = bySpan.values.filter(_.size > 1)
      .flatMap(_.sortBy(s => s.doc * 1048576 + s.idx).drop(1)).toSet
    val expect = corpus.map { case (id, text) =>
      val n = text.split(" ", -1).count(_.nonEmpty).toLong
      val mine = insts.filter(_.doc == id)
      val nRem = mine.count(removed).toLong
      (id, mine.size.toLong, mine.count(s => bySpan(s.span).size > 1).toLong,
        nRem, n - width * nRem)
    }.toArray

    val got = DedupOps.spanDedupStats(corpus.toDF("doc_id", "text"), width)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect()
    assert(got === expect)
  }

  test("zvalue deinterleaves back to (x, y) on seeded random pairs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pairs = (0 until 200).map { i =>
      Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))
        .apply(Gen.Parameters.default, Seed(11L + i)).get
    }
    val zs = pairs.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zvalue(col("x"), col("y"), bits = 16).as("z"))
      .as[(Long, Long, Long)].collect()
    for ((x, y, z) <- zs) {
      val dx = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val dy = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert((dx, dy) === ((x, y)), s"z=$z")
    }
  }

  test("zorderByN clusters three dimensions at once") {
    // 32^3 grid: ids 0..32767 decompose into (x, y, w) base-32 digits.
    val grid = spark.range(32 * 32 * 32).select(
      (col("id") % 32).as("x"),
      ((col("id") / 32) % 32).cast("long").as("y"),
      (col("id") / (32 * 32)).cast("long").as("w"))
    val parts = ZOrder.zorderByN(grid,
      Seq(col("x"), col("y"), col("w")), bits = 5, numFiles = 64)
      .groupBy(spark_partition_id())
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"),
        (max("w") - min("w")).as("sw"))
      .agg(avg("sx"), avg("sy"), avg("sw")).as[(Double, Double, Double)].head()
    // 64 range partitions over a 32^3 cube ≈ 2 z-bits per dimension plus
    // sampled-boundary slop: every dimension's average spread must sit
    // well under half the 0..31 domain (a 1-D sort leaves two of them
    // near 31).
    assert(parts._1 <= 16 && parts._2 <= 16 && parts._3 <= 16,
      s"3-D spreads $parts")
  }

  test("zvalue interleaves bits exactly") {
    // x = 0b101 (bits 0,2 -> even positions 0,4), y = 0b011 (bits 0,1 ->
    // odd positions 1,3): z = 1 + 2 + 8 + 16 = 27.
    val z = spark.range(1)
      .select(ZOrder.zvalue(lit(5L), lit(3L), bits = 3).as("z"))
      .as[Long].head()
    assert(z === 27L)
  }

  test("ClassifierIndex: stored model ≡ inline gate; torn and mixed artifacts load loudly") {
    val dir = java.nio.file.Files.createTempDirectory("clf_idx").toString
    graft.llm.ClassifierIndex.build(docs, dir, thresholdPermille = 500L)
    val stored = graft.llm.ClassifierIndex.score(spark, dir, docs)
      .select("doc_id", "pred").as[(Long, Int)].collect().sortBy(_._1)
    val inline = graft.llm.Classifier.qualityTeacherGate(docs)
      .select("doc_id", "pred").as[(Long, Int)].collect().sortBy(_._1)
    assert(stored.toSeq === inline.toSeq)
    val h = graft.llm.ClassifierIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("healthy") && h.getAs[Boolean]("sig_ok"))
    assert(h.getAs[Long]("c_pos") + h.getAs[Long]("c_neg") === docs.count())
    // torn: a second model row (interleaved rebuild) refuses to serve
    spark.read.parquet(s"$dir/model").limit(1)
      .write.mode("append").parquet(s"$dir/model")
    intercept[IllegalArgumentException] {
      graft.llm.ClassifierIndex.score(spark, dir, docs).collect()
    }
    assert(!graft.llm.ClassifierIndex.healthCheck(spark, dir)
      .head().getAs[Boolean]("healthy"))
    // mixed: model from a DIFFERENT corpus under the same params —
    // the content signature catches it
    val dir2 = java.nio.file.Files.createTempDirectory("clf_idx2").toString
    graft.llm.ClassifierIndex.build(docs, dir2, thresholdPermille = 500L)
    graft.llm.ClassifierIndex.build(docs.filter(col("doc_id") % 2 === 0),
      java.nio.file.Paths.get(dir2).toString + "_other", 500L)
    // overwrite model with the other corpus's model, keep params
    spark.read.parquet(
        java.nio.file.Paths.get(dir2).toString + "_other/model")
      .write.mode("overwrite").parquet(s"$dir2/model")
    restamp(dir2, Seq("model", "params"))
    intercept[IllegalArgumentException] {
      graft.llm.ClassifierIndex.score(spark, dir2, docs).collect()
    }
    // absent index throws, like every loader
    intercept[IllegalStateException] {
      graft.llm.ClassifierIndex.score(spark,
        java.nio.file.Files.createTempDirectory("clf_absent").toString, docs)
    }
    // half-deleted index (params intact, model gone): healthCheck REPORTS
    val dir3 = java.nio.file.Files.createTempDirectory("clf_half").toString
    graft.llm.ClassifierIndex.build(docs, dir3, thresholdPermille = 500L)
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(rmrf)
      java.nio.file.Files.deleteIfExists(p)
    }
    rmrf(java.nio.file.Paths.get(dir3, "model"))
    val h3 = graft.llm.ClassifierIndex.healthCheck(spark, dir3).head()
    assert(!h3.getAs[Boolean]("healthy") && h3.getAs[Long]("model_rows") === 0L)
  }

  test("DeconIndex: a pre-winnow-layout index fails loudly BEFORE any append write") {
    val dir = java.nio.file.Files.createTempDirectory("decon_old_layout").toString
    val bench = docs.filter(col("doc_id") % 50 === 0)
    graft.llm.DeconIndex.build(bench, dir, n = 5)
    // simulate the previous release's layout: params without winnow
    // geometry, no prints table
    import spark.implicits._
    Seq(5).toDF("n").write.mode("overwrite").parquet(s"$dir/params")
    restamp(dir, Seq("fingerprints", "grams", "prints", "params"))
    val fpsBefore = spark.read.parquet(s"$dir/fingerprints").count()
    intercept[IllegalArgumentException] {
      graft.llm.DeconIndex.append(docs.filter(col("doc_id") % 50 === 1), dir)
    }
    assert(spark.read.parquet(s"$dir/fingerprints").count() === fpsBefore,
      "append must validate the layout before its first durable write")
    intercept[IllegalArgumentException] {
      graft.llm.DeconIndex.probeWinnow(docs, dir).collect()
    }
  }
}
