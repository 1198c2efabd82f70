package graft

import graft.llm.{DedupOps, Multimodal, SimilaritySearch, TextFunctions}
import graft.model.Tables
import org.apache.spark.sql.functions._

/**
 * LLM-operator specs: (1) the native Catalyst expressions are
 * bit-identical to their higher-order-function reference formulations
 * on real data; (2) each dedup family finds the planted near-duplicate
 * pairs; (3) the multimodal stub plumbing is deterministic.
 */
class LlmSpec extends SparkSpec {
  import TextFunctions._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val embs = Tables.embeddings(spark, sfDir)

  test("native polyHash == HOF polyHash on every document") {
    val diff = docs.select(
      polyHash(col("text")).as("a"), polyHashHof(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("native shingleHashes == HOF shingleHashes on every document") {
    val diff = docs.select(
      shingleHashes(col("text")).as("a"), shingleHashesHof(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("native minhashSig == HOF minhashSig on every document") {
    val diff = docs.select(
      minhashSig(shingleHashes(col("text")), 32).as("a"),
      minhashSigHof(shingleHashes(col("text")), 32).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("native dotProduct == HOF dotProduct bit-for-bit on every embedding") {
    val diff = embs.select(
      dotProduct(col("embedding"), col("embedding")).as("a"),
      dotProductHof(col("embedding"), col("embedding")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("native hyperplaneBucket == HOF hyperplaneBucket on every embedding") {
    val diff = embs.select(
      hyperplaneBucketAt(col("embedding"), 64, 6, 12).as("a"),
      hyperplaneBucketAtHof(col("embedding"), 64, 6, 12).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("fixture corpus satisfies the ASCII hashing contract (isAscii gate)") {
    // The hashing surface folds UTF-16 units; oracles fold codepoints.
    // Equal on ASCII — so the corpus MUST be ASCII, checked loudly here
    // rather than discovered as a silent oracle mismatch later.
    assert(docs.filter(!TextFunctions.isAscii(col("text"))).count() === 0)
    // and the predicate itself discriminates
    import spark.implicits._
    val probe = Seq("plain ascii", "café", "𝄞 clef").toDF("t")
      .select(TextFunctions.isAscii(col("t")).as("a")).as[Boolean].collect().toSeq
    assert(probe === Seq(true, false, false))
  }

  test("all dedup families find the strongest planted near-dup pair") {
    // ground truth: the highest-Jaccard pair from the exact operator
    val top = DedupOps.ngramJaccardPairs(docs, threshold = 0.5)
      .orderBy(col("jaccard").desc).select("id_a", "id_b").head()
    def hasPair(df: org.apache.spark.sql.DataFrame): Boolean =
      df.filter(col("id_a") === top.getLong(0) &&
        col("id_b") === top.getLong(1)).count() == 1
    assert(hasPair(DedupOps.minhashLshPairs(docs, threshold = 0.8)))
    assert(hasPair(DedupOps.simhashPairs(docs, maxHamming = 3)))
  }

  test("ngramJaccardPairs maxDf bounds hot-key pair volume, preserves cold pairs") {
    // One doc replicated 20x verbatim: its shingles reach df ~ 21, so an
    // uncapped run emits all 21*20/2 replica pairs; maxDf=10 drops every
    // hot shingle BEFORE pairing, so no replica pair can form, while pairs
    // among untouched docs (df well under the cap) are byte-identical.
    val base = docs.select(col("doc_id"), col("text"))
    val one = base.orderBy("doc_id").limit(1)
    val clones = one.crossJoin(spark.range(1, 21).select(col("id")))
      .select((col("doc_id") + col("id") * 1000000L).as("doc_id"), col("text"))
    val corpus = base.unionAll(clones)
    val uncapped = DedupOps.ngramJaccardPairs(corpus, threshold = 0.5)
    val capped = DedupOps.ngramJaccardPairs(corpus, threshold = 0.5,
      maxDf = Some(10))
    assert(uncapped.count() >= 21L * 20 / 2)
    val hotIds = clones.select(col("doc_id"))
      .unionAll(one.select(col("doc_id"))).collect().map(_.getLong(0)).toSet
    val cappedPairs = capped.collect()
    assert(!cappedPairs.exists(r => hotIds(r.getLong(0)) && hotIds(r.getLong(1))))
    // Capping only removes index rows, so intersections (and Jaccard, whose
    // denominator uses the full set sizes) can only shrink: capped ⊆ uncapped.
    val uncappedKeys = uncapped.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.forall(r => uncappedKeys((r.getLong(0), r.getLong(1)))))
  }

  test("MinHash-LSH pairs are a subset of exact-Jaccard pairs (no false positives)") {
    val exact = DedupOps.ngramJaccardPairs(docs, threshold = 0.8)
      .select("id_a", "id_b")
    val lsh = DedupOps.minhashLshPairs(docs, threshold = 0.8)
      .select("id_a", "id_b")
    assert(lsh.exceptAll(exact).count() === 0)
  }

  test("decontamination removes benchmark docs and only fingerprint matches") {
    import graft.llm.TextAnalysis
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val kept = TextAnalysis.decontaminated(docs, bench)
    // every benchmark doc is gone (it matches its own fingerprint)
    assert(kept.filter(col("doc_id") % 50 === 0).count() === 0)
    // nothing kept shares a text with the benchmark set
    assert(kept.select(col("text"))
      .join(bench.select(col("text")), "text").count() === 0)
    // and removals are exactly the fingerprint matches: re-adding the
    // removed set's texts to the benchmark changes nothing
    val kept2 = TextAnalysis.decontaminated(kept, bench)
    assert(kept2.count() === kept.count())
  }

  test("duplicate clusters: chain A~B~C collapses transitively, singletons excluded") {
    import spark.implicits._
    // d1~d2 and d2~d3 overlap via shared halves; d1 and d3 share nothing —
    // only transitive closure puts all three in one cluster
    def block(p: String) = (1 to 30).map(i => s"$p$i")
    val texts = Seq(
      1L -> (block("x") ++ block("y")).mkString(" "),
      2L -> (block("y") ++ block("z")).mkString(" "),
      3L -> (block("z") ++ block("w")).mkString(" "),
      4L -> block("q").mkString(" "))
    val corpus = texts.toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(corpus, threshold = 0.3)
    val keys = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys === Set((1L, 2L), (2L, 3L))) // no direct 1-3 edge
    val clusters = DedupOps.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // one component
  }

  test("precomputed shingle_hashes column yields identical dedup results") {
    val pre = DedupOps.withShingleHashes(docs).persist()
    try {
      def keys(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSet
      assert(keys(DedupOps.ngramJaccardPairs(pre, threshold = 0.5))
        === keys(DedupOps.ngramJaccardPairs(docs, threshold = 0.5)))
      assert(keys(DedupOps.minhashLshPairs(pre, threshold = 0.8))
        === keys(DedupOps.minhashLshPairs(docs, threshold = 0.8)))
    } finally pre.unpersist()
  }

  test("IVF top-k: bounded k per query, rank-1 never beats brute force") {
    val q = embs.filter(col("vec_id") < 4)
    val ivf = SimilaritySearch.ivfTopK(embs, q, k = 3)
    assert(ivf.groupBy("query_id").count().filter(col("count") > 3).count() === 0)
    val bf1 = SimilaritySearch.bruteForceTopK(embs, q, k = 1)
      .select(col("query_id"), col("cos").as("bf_cos"))
    val ivf1 = ivf.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("ivf_cos"))
    assert(bf1.join(ivf1, "query_id")
      .filter(col("ivf_cos") > col("bf_cos")).count() === 0)
  }

  test("brute-force top-k is a superset in quality of LSH top-k") {
    val q = embs.filter(col("vec_id") < 4)
    val bf = SimilaritySearch.bruteForceTopK(embs, q, k = 3)
    assert(bf.groupBy("query_id").count().filter(col("count") =!= 3).count() === 0)
    // rank-1 brute-force cosine >= rank-1 LSH cosine for each query
    val lsh = SimilaritySearch.lshCandidateTopK(embs, q, 64, k = 3)
    val bf1 = bf.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("bf_cos"))
    val lsh1 = lsh.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("lsh_cos"))
    val bad = bf1.join(lsh1, "query_id")
      .filter(col("lsh_cos") > col("bf_cos")).count()
    assert(bad === 0)
  }

  test("native dotProduct handles double and mixed arrays, bit-equal to the HOF fold") {
    val dd = embs.select(
      transform(col("embedding"), x => x.cast("double")).as("demb"),
      col("embedding"))
    val diffD = dd.select(
      dotProduct(col("demb"), col("demb")).as("a"),
      dotProductHof(col("demb"), col("demb")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diffD === 0)
    // float corpus vector × double centroid — the q71 hot path
    val diffM = dd.select(
      dotProduct(col("embedding"), col("demb")).as("a"),
      dotProductHof(col("embedding"), col("demb")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diffM === 0)
  }

  test("native nearestCellIdx == HOF fold on every embedding, float and double centroids") {
    def centArr(cast: Boolean) = embs.filter(col("vec_id") < 16)
      .agg(array_sort(collect_list(struct(
        col("vec_id").cast("long").as("cell_id"),
        (if (cast) transform(col("embedding"), x => x.cast("double"))
         else col("embedding")).as("cvec")))).as("cents"))
    for (doubleCents <- Seq(false, true)) {
      val diff = embs.crossJoin(broadcast(centArr(doubleCents)))
        .select(nearestCellIdx(col("cents"), col("embedding")).as("a"),
          nearestCellIdxHof(col("cents"), col("embedding")).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff === 0, s"doubleCents=$doubleCents")
    }
  }

  test("nearestCellIdx: NaN cosines (zero-norm vectors/centroids) skipped identically") {
    import spark.implicits._
    // cell 0 is a zero-norm centroid (cosine NaN against anything); the
    // query set includes a zero-norm vector (NaN against every cell).
    // Native Java `>` and the guarded HOF must both skip NaN: the zero
    // vector lands in no cell (-1), normal vectors never pick cell 0.
    val cents = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("cell_id", "cvec")
      .agg(array_sort(collect_list(struct(col("cell_id"), col("cvec")))).as("cents"))
    val vecs = Seq((10L, Array(0f, 0f)), (11L, Array(3f, 1f)), (12L, Array(-1f, 2f)))
      .toDF("vec_id", "embedding")
    val got = vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        nearestCellIdx(col("cents"), col("embedding")).as("a"),
        nearestCellIdxHof(col("cents"), col("embedding")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((10L, -1L, -1L), (11L, 1L, 1L), (12L, 2L, 2L)))
  }

  test("k-means centroids keep nCells cells and IVF search quality is bounded by brute force") {
    val cents = SimilaritySearch.kmeansCentroids(embs, nCells = 16, iters = 2)
    assert(cents.count() === 16)
    val q = embs.filter(col("vec_id") < 4)
    val ivf = SimilaritySearch.ivfTopKWith(embs, q, k = 3, cents)
    assert(ivf.groupBy("query_id").count().filter(col("count") > 3).count() === 0)
    val bf1 = SimilaritySearch.bruteForceTopK(embs, q, k = 1)
      .select(col("query_id"), col("cos").as("bf_cos"))
    val ivf1 = ivf.filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("ivf_cos"))
    assert(bf1.join(ivf1, "query_id")
      .filter(col("ivf_cos") > col("bf_cos")).count() === 0)
  }

  test("semantic dedup clusters: embedding chain collapses transitively") {
    import spark.implicits._
    // v2 = e1; v1/v3 are ±18° rotations of v2 in the (e1,e2) plane:
    // cos(v1,v2) = cos(v2,v3) = cos 18° ≈ 0.951, cos(v1,v3) = cos 36° ≈
    // 0.809 — so at threshold 0.9 the only edges are 1-2 and 2-3, and only
    // the transitive closure puts all three in one cluster. v10/v11 are
    // orthogonal singletons and must not appear at all.
    val c18 = math.cos(math.Pi / 10).toFloat
    val s18 = math.sin(math.Pi / 10).toFloat
    def vec(a: Float, b: Float, tail: Int = 0): Array[Float] = {
      val v = Array.fill(64)(0.0f)
      v(0) = a; v(1) = b
      if (tail > 0) { v(0) = 0f; v(1) = 0f; v(tail) = 1.0f }
      v
    }
    val vecs = Seq(
      (1L, vec(c18, s18)), (2L, vec(1.0f, 0.0f)), (3L, vec(c18, -s18)),
      (10L, vec(0f, 0f, tail = 20)), (11L, vec(0f, 0f, tail = 40)))
    val e = vecs.toDF("vec_id", "embedding")
    val pairs = SimilaritySearch.embeddingNearDupPairs(e, 64, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L))) // no direct 1-3 edge
    val clusters = SimilaritySearch.semanticDupClusters(e, 64, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("multi-probe LSH: candidate superset means per-query rank-1 never worse than plain LSH") {
    val q = embs.filter(col("vec_id") < 8)
    val plain = SimilaritySearch.lshCandidateTopK(embs, q, 64, k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("plain_cos"))
    val multi = SimilaritySearch.lshMultiProbeTopK(embs, q, 64, k = 3)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("cos").as("multi_cos"))
    // every query plain LSH answers, multi-probe answers at least as well
    assert(plain.join(multi, "query_id")
      .filter(col("multi_cos") < col("plain_cos")).count() === 0)
    // and multi-probe answers at least as many queries
    assert(multi.count() >= plain.count())
  }

  test("dedupedCorpus keeps exactly the representatives and unclustered docs") {
    val pairs = DedupOps.ngramJaccardPairs(docs, threshold = 0.5)
    val clusters = DedupOps.duplicateClusters(pairs).persist()
    try {
      val kept = DedupOps.dedupedCorpus(docs, clusters)
      val nDocs = docs.count()
      val nClustered = clusters.count()
      val nReps = clusters.filter(col("doc_id") === col("cluster_rep")).count()
      assert(kept.count() === nDocs - (nClustered - nReps))
      // every representative survives; no non-representative does
      assert(clusters.filter(col("doc_id") === col("cluster_rep"))
        .join(kept, "doc_id").count() === nReps)
      assert(clusters.filter(col("doc_id") =!= col("cluster_rep"))
        .join(kept, "doc_id").count() === 0)
      // No forced broadcast hint (a pinned hint would OOM at curation
      // scale where the drop-list is corpus-sized); AQE must still pick a
      // broadcast anti-join on its own when the list is genuinely small.
      // Run the plan assertion on an isolated session with the broadcast
      // threshold pinned, so a future suite mutating the shared session's
      // conf can't make this test order-dependent.
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      val docs2 = Tables.documents(s2, sfDir)
      val kept2 = DedupOps.dedupedCorpus(
        docs2, DedupOps.duplicateClusters(DedupOps.ngramJaccardPairs(docs2, threshold = 0.5)))
      kept2.collect() // finalize THIS dataset's adaptive plan
      assert(kept2.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "small drop-list should AQE-broadcast")
    } finally clusters.unpersist()
  }

  test("PQ: codebook vectors encode to themselves; ADC returns exactly k per query") {
    val codes = SimilaritySearch.pqEncode(embs)
    // a codebook vector's sub-distance to itself is 0 — strict minimum
    assert(codes.filter(col("vec_id") < 16)
      .filter(col("code") =!= col("vec_id")).count() === 0)
    // every vector gets one code per subspace, all within the codebook
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= 8).count() === 0)
    assert(codes.filter(col("code") < 0 || col("code") >= 16).count() === 0)
    val adc = SimilaritySearch.adcTopK(embs, embs.filter(col("vec_id") < 4), k = 3)
    assert(adc.groupBy("query_id").count().filter(col("count") =!= 3).count() === 0)
    assert(adc.filter(col("adc") < 0).count() === 0)
  }

  test("precomputed shingle_hashes with a mismatched n is rejected") {
    val pre = DedupOps.withShingleHashes(docs, 3)
    val e = intercept[IllegalArgumentException] {
      DedupOps.ngramJaccardPairs(pre, n = 4, threshold = 0.5)
    }
    assert(e.getMessage.contains("n=3"))
  }

  test("duplicateClusters surfaces non-convergence instead of returning wrong labels") {
    import spark.implicits._
    // path 1-2-3-4-5 has diameter 4 > maxIter=1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      DedupOps.duplicateClusters(pairs, maxIter = 1, failOnNonConvergence = true)
    }
    assert(e.getMessage.contains("NOT converge"))
    // and with the default it still returns (possibly unconverged) labels
    assert(DedupOps.duplicateClusters(pairs, maxIter = 1).count() === 5)
  }

  test("StubDecoder is deterministic byte statistics") {
    val f = Multimodal.StubDecoder.decode(7L, "abc".getBytes("UTF-8"))
    assert(f === Multimodal.MediaFeatures(7L, 3L, (97 + 98 + 99) / 3.0, 97, 99))
    val empty = Multimodal.StubDecoder.decode(1L, Array.emptyByteArray)
    assert(empty === Multimodal.MediaFeatures(1L, 0L, 0.0, 0, 0))
  }

  test("P6Decoder: header grammar accepted, anything structurally off rejected") {
    import Multimodal.P6Decoder
    def img(header: String, w: Int, h: Int): Array[Byte] =
      header.getBytes("US-ASCII") ++ Array.fill[Byte](w * h * 3)(42)
    // canonical
    assert(P6Decoder.parse(img("P6\n2 3\n255\n", 2, 3))
      === Some(P6Decoder.Header(2, 3, 255, 11)))
    // comments + exotic whitespace anywhere in the header
    assert(P6Decoder.parse(
      img("P6\n# a comment\n  2\t3\n# another\n255 ", 2, 3)).nonEmpty)
    // space (not newline) as the raster delimiter
    assert(P6Decoder.parse(img("P6 2 3 255 ", 2, 3)).nonEmpty)
    // maxval < 255 is legal as long as it fits one byte
    assert(P6Decoder.parse(img("P6\n2 3\n17\n", 2, 3))
      .exists(_.maxval === 17))
    // rejections: wrong magic, maxval out of range, zero dims,
    // truncated raster, surplus raster, missing post-maxval whitespace
    assert(P6Decoder.parse(img("P5\n2 3\n255\n", 2, 3)).isEmpty)
    assert(P6Decoder.parse(img("P6\n2 3\n256\n", 2, 3)).isEmpty)
    assert(P6Decoder.parse(img("P6\n0 3\n255\n", 0, 3)).isEmpty)
    assert(P6Decoder.parse(img("P6\n2 3\n255\n", 2, 3).dropRight(1)).isEmpty)
    assert(P6Decoder.parse(img("P6\n2 3\n255\n", 2, 3) :+ 0.toByte).isEmpty)
    assert(P6Decoder.parse("P6\n2 3\n255".getBytes("US-ASCII")).isEmpty)
    assert(P6Decoder.parse(null).isEmpty)
    // a text payload can never false-positive: plain prose fails at magic
    assert(P6Decoder.parse("P6 looked like a good size".getBytes).isEmpty)
    // pixelPlane: raster for P6, identity for everything else
    assert(Multimodal.pixelPlane(img("P6\n2 3\n255\n", 2, 3)).toSeq
      === Seq.fill(18)(42.toByte))
    assert(Multimodal.pixelPlane("hello".getBytes).toSeq === "hello".getBytes.toSeq)
  }

  test("BmpDecoder: 24-bit BMPs normalize (padding, bottom-up, BGR) to " +
      "the P6 plane; anything structurally off is rejected") {
    implicit val s = spark
    import s.implicits._
    // the generated BMP of doc d decodes to EXACTLY the generated P6's
    // raster — padding stripped, rows re-ordered, BGR swapped to RGB
    val few = docs.filter(col("doc_id") < 12)
    val p6 = Multimodal.p6FromDocuments(few)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    val bmp = Multimodal.bmpFromDocuments(few)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    (0L until 12L).foreach { d =>
      assert(!java.util.Arrays.equals(p6(d), bmp(d)))
      assert(Multimodal.pixelPlane(p6(d)).toSeq
        === Multimodal.pixelPlane(bmp(d)).toSeq, s"doc $d plane")
      // w=5/7 rows have real padding bytes (stride 16/24 vs 15/21)
    }
    // rejections: magic, wrong bpp, wrong info-header size, compressed,
    // truncated, surplus bytes
    val good = bmp(0L)
    def mut(i: Int, v: Byte): Array[Byte] = {
      val c = good.clone(); c(i) = v; c
    }
    assert(Multimodal.BmpDecoder.parse(good).nonEmpty)
    assert(Multimodal.BmpDecoder.parse(mut(0, 'X')).isEmpty)
    assert(Multimodal.BmpDecoder.parse(mut(28, 8)).isEmpty)  // bpp 8
    assert(Multimodal.BmpDecoder.parse(mut(14, 12)).isEmpty) // CORE header
    assert(Multimodal.BmpDecoder.parse(mut(30, 1)).isEmpty)  // RLE8
    assert(Multimodal.BmpDecoder.parse(good.dropRight(1)).isEmpty)
    assert(Multimodal.BmpDecoder.parse(good :+ 0.toByte).isEmpty)
    assert(Multimodal.BmpDecoder.parse(null).isEmpty)
    assert(Multimodal.BmpDecoder.parse("BMocked text payload".getBytes).isEmpty)
    // top-down (negative height) variant decodes to the same plane
    val hdr = good.clone()
    val h = (4 + 0 % 5, 3 + 0 % 4)._2
    val neg = -h
    hdr(22) = neg.toByte; hdr(23) = (neg >> 8).toByte
    hdr(24) = (neg >> 16).toByte; hdr(25) = (neg >> 24).toByte
    // rows must be re-ordered on disk for the planes to agree: build the
    // top-down payload by reversing the bottom-up row blocks
    val w0 = 4; val stride = ((w0 * 3 + 3) / 4) * 4
    val rows = (0 until h).map(r =>
      good.slice(54 + r * stride, 54 + (r + 1) * stride)).reverse
    val td = hdr.slice(0, 54) ++ rows.flatten
    assert(Multimodal.BmpDecoder.parse(td).exists(_.topDown))
    assert(Multimodal.pixelPlane(td).toSeq
      === Multimodal.pixelPlane(good).toSeq)
  }

  test("WavDecoder: PCM samples decode to the canonical plane (8-bit " +
      "verbatim, 16-bit high-byte rebased); structural rejections hold") {
    implicit val s = spark
    import s.implicits._
    import Multimodal.WavDecoder
    // the generated WAV of doc d decodes to EXACTLY the P6 raster
    val few = docs.filter(col("doc_id") < 12)
    val p6 = Multimodal.p6FromDocuments(few)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    val wav = Multimodal.wavFromDocuments(few)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    (0L until 12L).foreach { d =>
      assert(Multimodal.pixelPlane(wav(d)).toSeq
        === Multimodal.pixelPlane(p6(d)).toSeq, s"doc $d plane")
    }
    // hand-built 16-bit stereo WAV: plane = high bytes + 128, interleaved
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
    val samples = Seq(0x1234, 0xFF80, 0x7FFF, 0x8000) // L,R,L,R
    val data = samples.flatMap(le16).toArray
    val w16 = "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
      le32(32000) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
    val hd = WavDecoder.parse(w16)
    assert(hd.exists(h => h.channels == 2 && h.bits == 16))
    assert(Multimodal.pixelPlane(w16).toSeq ===
      Seq(0x12 + 128, 0xFF - 256 + 128, 0x7F + 128, 0x80 - 256 + 128)
        .map(v => ((v + 256) % 256).toByte))
    // rejections: magic, size mismatch, non-PCM, 24-bit, data-before-fmt,
    // truncated chunk walk, trailing junk, misaligned data size
    val good = wav(1L)
    def mut(i: Int, v: Byte) = { val c = good.clone(); c(i) = v; c }
    assert(WavDecoder.parse(good).nonEmpty)
    assert(WavDecoder.parse(mut(0, 'X')).isEmpty)
    assert(WavDecoder.parse(mut(4, (good(4) + 1).toByte)).isEmpty)
    assert(WavDecoder.parse(mut(20, 3)).isEmpty)  // IEEE float fmt
    assert(WavDecoder.parse(mut(34, 24)).isEmpty) // 24-bit
    assert(WavDecoder.parse(good.dropRight(1)).isEmpty)
    assert(WavDecoder.parse(good :+ 0.toByte).isEmpty)
    assert(WavDecoder.parse(null).isEmpty)
    assert(WavDecoder.parse("RIFFraff in a WAVEform".getBytes).isEmpty)
  }

  test("AviDecoder: real frame decode through the RIFF walk; structural " +
      "rejections hold; sampleFrames samples FRAMES for video payloads") {
    implicit val s = spark
    import s.implicits._
    import Multimodal.AviDecoder
    val few = docs.filter(col("doc_id") < 9)
    val avis = Multimodal.aviFromDocuments(few)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    (0L until 9L).foreach { d =>
      val avi = AviDecoder.parse(avis(d)).getOrElse(fail(s"doc $d: no parse"))
      assert(avi.width === (4 + d % 5).toInt &&
        avi.height === (3 + d % 4).toInt &&
        avi.frameOffsets.length === (2 + d % 3).toInt, s"doc $d geometry")
      // frame f's decoded plane is EXACTLY the generator formula
      val w = avi.width; val h = avi.height
      (0 until avi.frameOffsets.length).foreach { f =>
        val want = Array.tabulate(w * h * 3)(j =>
          ((d * 31 + f * 101 + j * 7) % 251).toByte)
        assert(AviDecoder.framePlane(avis(d), avi, f).toSeq === want.toSeq,
          s"doc $d frame $f")
      }
    }
    // sampleFrames on a video payload = per-FRAME fingerprints
    val fs = Multimodal.sampleFrames(Multimodal.aviFromDocuments(few), 2)
      .collect().map(r => (r.doc_id, r.frame_idx) -> r.frame_val).toMap
    (0L until 9L).foreach { d =>
      val avi = AviDecoder.parse(avis(d)).get
      (0 until 2).foreach { i =>
        val f = (i * avi.frameOffsets.length) / 2
        assert(fs((d, i)) === AviDecoder.frameFingerprint(avis(d), avi, f))
      }
    }
    // pixelPlane concatenates frames temporally (clip fingerprint input)
    val a0 = AviDecoder.parse(avis(0L)).get
    val plane = Multimodal.pixelPlane(avis(0L))
    assert(plane.length === a0.width * a0.height * 3 * a0.frameOffsets.length)
    assert(plane.take(a0.width * a0.height * 3).toSeq
      === AviDecoder.framePlane(avis(0L), a0, 0).toSeq)
    // rejections: magic, two streams, frame-size mismatch, truncation,
    // trailing junk, frame-count disagreement
    val good = avis(0L)
    def mut(i: Int, v: Byte) = { val c = good.clone(); c(i) = v; c }
    assert(AviDecoder.parse(mut(8, 'X')).isEmpty)
    assert(AviDecoder.parse(mut(56, 2)).isEmpty)  // dwStreams = 2
    assert(AviDecoder.parse(mut(48, 9)).isEmpty)  // dwTotalFrames wrong
    assert(AviDecoder.parse(good.dropRight(1)).isEmpty)
    assert(AviDecoder.parse(good :+ 0.toByte).isEmpty)
    assert(AviDecoder.parse(null).isEmpty)
  }

  test("pixelPlane: one dispatch over P6, BMP, WAV, AVI, text and null " +
      "payloads; a non-AVI payload returns promptly") {
    implicit val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val d = 7L // 6 × 6 pixels, 3 frames
    val one = docs.filter(col("doc_id") === d)
    def payload(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.select("payload").as[Array[Byte]].head()
    val (w, h, nF) = ((4 + d % 5).toInt, (3 + d % 4).toInt, (2 + d % 3).toInt)
    def frame(f: Int): Array[Byte] = Array.tabulate(w * h * 3)(j =>
      ((d * 31 + f * 101 + j * 7) % 251).toByte)
    val text = "plain text, in no container format".getBytes("UTF-8")
    val table = Seq(
      "P6" -> (payload(Multimodal.p6FromDocuments(one)), frame(0)),
      "BMP" -> (payload(Multimodal.bmpFromDocuments(one)), frame(0)),
      "WAV" -> (payload(Multimodal.wavFromDocuments(one)), frame(0)),
      "AVI" -> (payload(Multimodal.aviFromDocuments(one)),
        (0 until nF).flatMap(frame).toArray),
      "text" -> (text, text),
      "null" -> (null, Array.emptyByteArray))
    table.foreach { case (name, (in, want)) =>
      val got = Await.result(Future(Multimodal.pixelPlane(in)), 30.seconds)
      assert(got.toSeq === want.toSeq, name)
    }
  }

  test("resize and aHash of an AVI clip read its frames concatenated in " +
      "temporal order, not the container bytes") {
    implicit val s = spark
    import s.implicits._
    import Multimodal.AviDecoder
    val k = 32
    val avis = Multimodal.aviFromDocuments(docs.filter(col("doc_id") < 9))
    val clips = avis.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].collect().map { case (d, p) =>
        val avi = AviDecoder.parse(p).getOrElse(fail(s"doc $d: no parse"))
        d -> avi.frameOffsets.indices.flatMap(AviDecoder.framePlane(p, avi, _))
      }.toMap
    // reference spans of the clip plane, and aHash's bit rule over them
    val want = clips.map { case (d, plane) =>
      val n = plane.length
      d -> (0 until k).map { b =>
        val (lo, hi) = ((b * n) / k, ((b + 1) * n) / k)
        (plane.slice(lo, hi).map(_ & 0xff).sum.toLong, (hi - lo).toLong)
      }
    }
    val got = Multimodal.resize(avis, k).collect().groupBy(_.doc_id)
      .map { case (d, bs) =>
        d -> bs.sortBy(_.bucket).map(b => (b.sum_bytes, b.n_in_bucket)).toSeq
      }
    assert(got === want)
    val wantHash = want.map { case (d, bs) =>
      val total = bs.map(_._1).sum
      val nTotal = bs.map(_._2).sum
      d -> bs.indices.filter(b => bs(b)._1 * nTotal > total * bs(b)._2)
        .map(1L << _).sum
    }
    assert(Multimodal.aHash(avis, k).as[(Long, Long)].collect().toMap
      === wantHash)
  }

  test("resize and aHash span a 48 MB payload: span bounds do not overflow") {
    implicit val s = spark
    import s.implicits._
    val n = 48 * 1000 * 1000
    // bytes 1 in the first half, 2 in the second: buckets 24..47 of 48
    // sit above the payload mean
    val media = Seq(1L).toDS().map(d =>
      (d, Array.tabulate[Byte](n)(i => if (i < n / 2) 1 else 2)))
      .toDF("doc_id", "payload")
    assert(Multimodal.aHash(media, 48).as[(Long, Long)].collect().toSeq
      === Seq((1L, (1L << 48) - (1L << 24))))
  }

  test("transcodeToP6: BMP arrivals become byte-IDENTICAL to their P6 " +
      "siblings; idempotent; non-images pass through untouched") {
    implicit val s = spark
    import s.implicits._
    val few = docs.filter(col("doc_id") < 10)
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
        .collect().toMap
    val p6 = payloads(Multimodal.p6FromDocuments(few))
    val fromBmp = payloads(
      Multimodal.transcodeToP6(Multimodal.bmpFromDocuments(few)))
    (0L until 10L).foreach { d =>
      assert(java.util.Arrays.equals(fromBmp(d), p6(d)),
        s"doc $d: BMP transcode != canonical P6")
    }
    // idempotent: transcoding the canonical form reproduces it exactly
    val twice = payloads(Multimodal.transcodeToP6(
      Multimodal.transcodeToP6(Multimodal.p6FromDocuments(few))))
    (0L until 10L).foreach(d => assert(java.util.Arrays.equals(twice(d), p6(d))))
    // non-image payloads (audio, plain text) pass through with the flag off
    val wav = Multimodal.wavFromDocuments(few)
    val out = Multimodal.transcodeToP6(wav)
    assert(out.filter(col("transcoded")).count() === 0)
    val wavBytes = payloads(wav)
    payloads(out).foreach { case (d, b) =>
      assert(java.util.Arrays.equals(b, wavBytes(d))) }
  }

  test("P6 decode: features come from the raster, not the encoded bytes") {
    implicit val s = spark
    val few = docs.filter(col("doc_id") < 20)
    val feats = Multimodal.extractFeatures(Multimodal.p6FromDocuments(few))
      .toDF().collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(3), r.getInt(4))).toMap
    assert(feats.size === 20)
    feats.foreach { case (d, (nBytes, w, h)) =>
      assert(w === (4 + d % 5).toInt && h === (3 + d % 4).toInt, s"doc $d")
      assert(nBytes === w.toLong * h * 3, s"doc $d raster size")
    }
  }

  test("P6 clone pair: two re-encodings of one image land hamming 0 " +
      "under the q120-style banded LSH (aHashPairs)") {
    implicit val s = spark
    import s.implicits._
    val few = docs.filter(col("doc_id") < 10)
    // same image twice, byte-DISTINCT payloads: canonical encoding keeps
    // doc_id, the re-encode gets doc_id+1000 so the pair generator (which
    // joins on id_a < id_b) can surface the clone pair
    val a = Multimodal.p6FromDocuments(few)
    val b = Multimodal.p6FromDocuments(few, reencoded = true)
      .withColumn("doc_id", col("doc_id") + lit(1000L))
    // the payload byte streams really differ (different headers)
    val byteEq = a.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .collect().toMap
    val byteEq2 = b.select(col("doc_id") - 1000L, col("payload"))
      .as[(Long, Array[Byte])].collect().toMap
    assert((0L until 10L).forall(d =>
      !java.util.Arrays.equals(byteEq(d), byteEq2(d))))
    val pairs = Multimodal.aHashPairs(a.unionByName(b), k = 48, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every clone pair surfaces, at hamming exactly 0 (identical rasters)
    (0L until 10L).foreach { d =>
      assert(pairs.contains((d, d + 1000L, 0L)),
        s"clone pair for doc $d missing from ${pairs.toSeq}")
    }
  }

  test("multimodal extractFeatures runs partition-wise over binary payloads") {
    implicit val s = spark
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs)).toDF()
    assert(feats.count() === docs.count())
    // n_bytes must equal the document length (ASCII corpus)
    val joined = feats.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")).cast("long"))
    assert(joined.count() === 0)
  }

  // -------------------------------------------- covariance / PCA front

  test("covarianceStats equals brute force on a tiny synthetic corpus") {
    import spark.implicits._
    val vecs = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 5.0f), Seq(-2.0f, 0.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    // scale 1: q = floor(x + 0.5) = the integer values themselves
    val got = graft.llm.EmbeddingOps.covarianceStats(df, d = 2, scale = 1L)
      .select("i", "j", "n", "s_i", "s_j", "sxy", "cov_num")
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val q = vecs.map(_.map(x => math.floor(x + 0.5).toLong))
    val n = q.size.toLong
    def s(i: Int) = q.map(_(i)).sum
    def sxy(i: Int, j: Int) = q.map(v => v(i) * v(j)).sum
    for (i <- 0 until 2; j <- i until 2) {
      val exp = (i.toLong, j.toLong, n, s(i), s(j), sxy(i, j),
        n * sxy(i, j) - s(i) * s(j))
      assert(got((i.toLong, j.toLong)) === exp, s"cell ($i,$j)")
    }
    assert(got.size === 3)
  }

  test("covarianceStats on the real corpus: full triangle, non-negative diagonal") {
    import spark.implicits._
    val stats = graft.llm.EmbeddingOps.covarianceStats(embs, d = 64)
    val rows = stats.select("i", "j", "n", "cov_num")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length === 64 * 65 / 2)
    val n = embs.count()
    assert(rows.forall(_._3 == n))
    // diagonal cells are n²·Var ≥ 0
    assert(rows.filter(r => r._1 == r._2).forall(_._4 >= 0L))
  }

  test("principalDirection recovers a planted dominant axis; projection is the exact dot") {
    import spark.implicits._
    // variance concentrated on axis 1; small independent signal on axis 0
    val vecs = (0 until 40).map { t =>
      (t.toLong, Seq(((t % 3) - 1).toFloat * 0.01f, (t - 20).toFloat, 0.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val stats = graft.llm.EmbeddingOps.covarianceStats(df, d = 3)
    val dir = graft.llm.EmbeddingOps.principalDirection(stats, d = 3)
    assert(math.abs(math.sqrt(dir.map(x => x * x).sum) - 1.0) < 1e-12,
      "unit norm")
    assert(math.abs(dir(1)) > 0.9999, s"dominant axis: ${dir.toSeq}")
    assert(dir(1) > 0.0, "sign convention: leading component positive")
    // projection onto e1 reproduces the raw coordinate exactly
    val proj = graft.llm.EmbeddingOps
      .projectedOnto(df, Array(0.0, 1.0, 0.0))
      .select(col("vec_id"),
        col("proj") - element_at(col("embedding"), 2).cast("double"))
      .as[(Long, Double)].collect()
    assert(proj.forall(_._2 == 0.0))
  }

  test("ivfAssignmentMargins: boundary vectors flag, confident ones don't, empty cells show") {
    // 2-of-4-dim toy geometry: c0 = e1, c1 = e2, c2 = (far pole, gets
    // no members). v1 hugs c0 (confident), v2 sits on the c0/c1
    // bisector (cos equal to both -> margin 0 bp -> ambiguous).
    import spark.implicits._
    def v(a: Float, b: Float, c: Float): Array[Float] = Array(a, b, c, 0.0f)
    val cents = Seq(
      (0L, v(1, 0, 0)), (1L, v(0, 1, 0)), (2L, v(0, 0, 1))
    ).toDF("cell_id", "cvec")
    val corpus = Seq(
      (10L, v(10, 1, 0)),   // near c0, margin large
      (11L, v(1, 1, 0)),    // exact bisector of c0/c1 -> cell 0 (tie), margin 0
      (12L, v(0, 5, 1))     // near c1, margin large-ish
    ).toDF("vec_id", "embedding")
    val out = SimilaritySearch.ivfAssignmentMargins(corpus, cents,
        marginBp = 500L)
      .select("cell_id", "n_vecs", "n_ambiguous", "share_permille",
        "ambig_permille")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(out(0) === ((0L, 2L, 1L, 666L, 500L))) // v10 confident, v11 tie
    assert(out(1)._2 === 1L && out(1)._3 === 0L)  // v12 confident in c1
    assert(out(2) === ((2L, 0L, 0L, 0L, 0L)))     // empty cell visible
  }

  test("clusterTopTerms: distinctive terms beat corpus-wide stopwords") {
    // two clusters by construction: embeddings 0/1 are the centroids;
    // docs 0,2 share cell 0 and talk about "quantum", docs 1,3 cell 1
    // and talk about "recipe"; "the" appears in every doc (df 4) so its
    // distinctiveness score is 4x lower than the cluster words' (df 2).
    import spark.implicits._
    def e(a: Float, b: Float): Array[Float] = Array(a, b, 0.0f, 0.0f)
    val embs2 = Seq(
      (0L, e(1, 0)), (1L, e(0, 1)), (2L, e(5, 1)), (3L, e(1, 5))
    ).toDF("vec_id", "embedding")
    val docs2 = Seq(
      (0L, "the quantum quantum field"), (2L, "the quantum lattice quantum"),
      (1L, "the recipe recipe dough"), (3L, "the recipe oven recipe")
    ).toDF("doc_id", "text")
    val top = graft.llm.Retrieval.clusterTopTerms(docs2, embs2, nCells = 2, k = 1,
        minTf = 2L)
      .select("cell_id", "rank", "term")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(top.toSeq === Seq((0L, 1L, "quantum"), (1L, 1L, "recipe")))
  }

  test("essReport: identical docs weigh uniformly -> ESS reads exactly 1000 permille") {
    import spark.implicits._
    val uniform = Seq.tabulate(8)(i =>
      (i.toLong, "alpha beta gamma delta epsilon", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.Retrieval.essReport(uniform, uniform, buckets = 64)
      .select("lang", "n_docs", "ess_permille")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq === Seq(("en", 8L, 1000L)))
  }

  test("cellDistributionShift: hand-computed shares, per-cell gaps and TVD") {
    import spark.implicits._
    def e(a: Float, b: Float): Array[Float] = Array(a, b, 0.0f, 0.0f)
    val cents = Seq((0L, e(1, 0)), (1L, e(0, 1))).toDF("cell_id", "cvec")
    // corpus: 3 vectors hug c0, 1 hugs c1 -> shares 750/250;
    // target: both hug c1 -> shares 0/1000; shift 750/750, TVD 750.
    val corpus = Seq(
      (10L, e(9, 1)), (11L, e(8, 1)), (12L, e(7, 1)), (13L, e(1, 9))
    ).toDF("vec_id", "embedding")
    val target = Seq((20L, e(1, 8)), (21L, e(1, 7)))
      .toDF("vec_id", "embedding")
    val out = graft.llm.SimilaritySearch.cellDistributionShift(
        corpus, target, cents)
      .select("cell_id", "n_corpus", "n_target", "share_corpus_permille",
        "share_target_permille", "shift_permille", "tvd_permille")
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out(0) === ((0L, 3L, 0L, 750L, 0L, 750L, 750L)))
    assert(out(1) === ((1L, 1L, 2L, 250L, 1000L, 750L, 750L)))
  }

  test("ngramDiversity: exact per-source counts, short docs emit no row at high n") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a", "X"), (2L, "a b c", "X"), (3L, "x y", "Y")
    ).toDF("doc_id", "text", "source")
    val out = graft.llm.TextAnalysis.ngramDiversity(docs, maxN = 3)
      .select("source", "n", "n_grams", "n_distinct", "distinct_permille")
      .as[(String, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("X", 1L, 6L, 3L, 500L),   // a x4, b, c
      ("X", 2L, 4L, 3L, 750L),   // "a a" x2, "a b", "b c"
      ("X", 3L, 2L, 2L, 1000L),
      ("Y", 1L, 2L, 2L, 1000L),
      ("Y", 2L, 1L, 1L, 1000L))) // no (Y, 3) row: doc shorter than n
  }

  test("embeddingHygiene: every degenerate class counted exactly once") {
    import spark.implicits._
    def v(xs: Float*): Array[Float] = xs.toArray
    val vecs = Seq(
      (1L, v(1f, 2f, 0f, 3f)),                       // clean
      (2L, null.asInstanceOf[Array[Float]]),          // null
      (3L, v(1f, 2f)),                                // wrong dim
      (4L, v(Float.NaN, 1f, 1f, 1f)),                 // NaN
      (5L, v(Float.PositiveInfinity, 0f, 0f, 0f)),    // Inf
      (6L, v(0f, 0f, 0f, 0f)),                        // zero norm
      (7L, v(0f, 0f, 1f, 0f)),                        // clean
      (8L, v(Float.NaN, 1f))                          // wrong dim AND NaN: once
    ).toDF("vec_id", "embedding")
    val out = graft.llm.SimilaritySearch.embeddingHygiene(vecs, dim = 4)
      .select("n_vecs", "n_null", "n_wrong_dim", "n_nonfinite",
        "n_zero_norm", "n_clean")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(out === ((8L, 1L, 2L, 2L, 1L, 2L)))
    assert(out._2 + out._3 + out._4 + out._5 + out._6 === out._1,
      "hygiene classes must partition the table")
  }
}
