package graft

import graft.model.Tables
import graft.llm.Bpe
import graft.llm.Bpe.Merge
import org.apache.spark.sql.functions._

/**
 * BPE tokenizer semantics the hash-checked oracles (q107–q110) can't pin
 * from the outside: single-pass greedy merge application (no chain
 * re-merging within a round), the learn loop's argmax tie-break and
 * early exhaustion, encode/count agreement, and null/empty-text
 * behavior. The reference implementations here are sequential Scala —
 * deliberately independent of both the Spark fold expressions and the
 * DuckDB list_reduce replay.
 */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential greedy single-pass merge — the textbook loop. */
  private def refApply(syms: List[String], lhs: String,
      rhs: String): List[String] =
    syms.foldLeft(List.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == lhs && x == rhs)
        acc.init :+ (lhs + rhs)
      else acc :+ x
    }

  /** Sequential reference learner over a weighted word histogram. */
  private def refLearn(texts: Seq[String], k: Int): Seq[Merge] = {
    val hist = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.split(" ").filter(_.nonEmpty)
      .foreach(w => hist(w) = hist.getOrElse(w, 0L) + 1L))
    var vocab: Map[String, List[String]] =
      hist.keys.map(w => w -> w.toList.map(_.toString)).toMap
    val out = Vector.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, syms) =>
        syms.zip(syms.tail).foreach { p =>
          pairs(p) = pairs.getOrElse(p, 0L) + hist(w)
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((lhs, rhs), c) = pairs.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        out += Merge(r, lhs, rhs, lhs + rhs, c)
        vocab = vocab.map { case (w, syms) => w -> refApply(syms, lhs, rhs) }
        r += 1
      }
    }
    out.result()
  }

  private def applyOnWord(word: String, lhs: String, rhs: String): Seq[String] = {
    val df = Seq(word).toDF("w")
      .select(split(Bpe.applyMerge(
        array_join(split(col("w"), ""), Bpe.Sep), lhs, rhs), Bpe.Sep).as("t"))
    df.head.getSeq[String](0)
  }

  test("applyMerge: greedy left-to-right, no chain re-merge within a round") {
    // aaa -> [aa, a] (leftmost wins; the fused 'aa' does not re-merge)
    assert(applyOnWord("aaa", "a", "a") == Seq("aa", "a"))
    assert(applyOnWord("aaaa", "a", "a") == Seq("aa", "aa"))
    assert(applyOnWord("abab", "a", "b") == Seq("ab", "ab"))
    // fused symbol never acts as lhs for the same round's pair
    assert(applyOnWord("aab", "a", "b") == Seq("a", "ab"))
    // no match at all
    assert(applyOnWord("xyz", "a", "b") == Seq("x", "y", "z"))
    // single-symbol word is untouched
    assert(applyOnWord("a", "a", "a") == Seq("a"))
  }

  test("applyMerge matches the sequential reference on random-ish words") {
    val words = Seq("banana", "aabbaabb", "mississippi", "zzzzzz", "ab")
    for (w <- words; (l, r) <- Seq(("a", "b"), ("a", "a"), ("s", "s"),
        ("z", "z"), ("a", "n"))) {
      val got = applyOnWord(w, l, r)
      val want = refApply(w.toList.map(_.toString), l, r)
      assert(got == want, s"word=$w merge=($l,$r)")
    }
  }

  test("learnMerges matches the sequential reference, ties broken (cnt DESC, lhs, rhs)") {
    val texts = Seq(
      "low low low lower lower newest newest newest newest widest",
      "widest widest newest low lowest lowest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnMerges(df, 8)
    val want = refLearn(texts, 8)
    assert(got == want)
  }

  test("learnMerges stops early when every word is fully fused") {
    // one word type of length 3 -> at most 2 merges exist
    val df = Seq((1L, "abc abc abc")).toDF("doc_id", "text")
    val got = Bpe.learnMerges(df, 10)
    assert(got.size == 2)
    assert(got == refLearn(Seq("abc abc abc"), 10))
  }

  test("tokenCount equals the exploded token stream's per-doc size; null/empty -> 0") {
    val df = Seq(
      (1L, "low lower newest"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "newest newest")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, 5)
    val counts = df.select(col("doc_id"),
      Bpe.tokenCount(col("text"), merges).as("n")).orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    assert(counts(2L) == 0L && counts(3L) == 0L)
    val exploded = Bpe.encodeTokens(df, merges)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(exploded == counts.filter(_._2 > 0))
    // a learned merge actually compresses: fewer tokens than chars
    val chars = "low lower newest".replace(" ", "").length
    assert(counts(1L) < chars)
  }

  test("native BpeCountExpr == the HOF fold formulation on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val merges = Bpe.learnMerges(docs, 10)
    val diff = docs.select(
      Bpe.tokenCount(col("text"), merges).as("native"),
      Bpe.tokenCountHof(col("text"), merges).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.isEmpty, "native and HOF token counts diverge")
  }

  test("encodeWord replays the full merge list (word-type purity)") {
    val df = Seq((1L, "newest newest widest")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, 6)
    // encode of a word equals the reference vocab state after all merges
    val got = Seq("newest").toDF("w")
      .select(split(Bpe.encodeWord(col("w"), merges), Bpe.Sep))
      .head.getSeq[String](0)
    var syms = "newest".toList.map(_.toString)
    merges.foreach(m => syms = refApply(syms, m.lhs, m.rhs))
    assert(got == syms)
  }

  test("native BpeCountExpr == HOF on supplementary-plane text (code points, not code units)") {
    // 😀 (U+1F600) is one code point = two UTF-16 units; split(word, "")
    // keeps it whole, so the native encoder must too. Learn merges on an
    // emoji-bearing corpus and compare both formulations per doc.
    val docs = Seq((1L, "😀😀 a😀b 😀😀"), (2L, "a😀b a😀b x"),
      (3L, "😀 plain ascii words 😀😀")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, 5)
    val diff = docs.select(
      Bpe.tokenCount(col("text"), merges).as("native"),
      Bpe.tokenCountHof(col("text"), merges).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.isEmpty, "native and HOF diverge on non-BMP text")
    // and the count is code-point sensible: "😀😀" with the (😀,😀)
    // merge learned collapses below 2 symbols-per-word
    val n = docs.filter(col("doc_id") === 1L)
      .select(Bpe.tokenCount(col("text"), merges)).head.getLong(0)
    assert(n > 0L && n <= 6L)
  }

  test("native encodeTokens == HOF token stream (real corpus + non-BMP fixture)") {
    val corpus = Tables.documents(spark, sfDir).limit(200)
    val merges = Bpe.learnMerges(corpus, 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "pos").as[(Long, Int, String)].collect().toSeq
    assert(rows(Bpe.encodeTokens(corpus, merges)) ===
      rows(Bpe.encodeTokensHof(corpus, merges)))
    // and on supplementary-plane text
    val emoji = Seq((1L, "😀😀 a😀b"), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val em = Bpe.learnMerges(emoji, 3)
    assert(rows(Bpe.encodeTokens(emoji, em)) ===
      rows(Bpe.encodeTokensHof(emoji, em)))
    // null/empty docs emit no tokens
    assert(!rows(Bpe.encodeTokens(emoji, em)).exists(r => r._1 == 2L || r._1 == 3L))
  }

  test("decode ∘ encodeWords roundtrips the real corpus and non-BMP text") {
    // the tokenizer roundtrip: boundary-preserving encode, strip
    // separators, re-join with spaces == the doc's space-joined
    // non-empty words — on the real corpus under real learned merges
    val corpus = Tables.documents(spark, sfDir).limit(300)
    val merges = Bpe.learnMerges(corpus, 6)
    def check(df: org.apache.spark.sql.DataFrame, ms: Seq[Merge]): Unit = {
      val bad = df.select(col("doc_id"),
        Bpe.decode(Bpe.encodeWords(col("text"), ms)).as("dec"),
        array_join(filter(split(coalesce(col("text"), lit("")), " "),
          w => w =!= ""), " ").as("orig"))
        .filter(col("dec") =!= col("orig"))
        .count()
      assert(bad === 0L, "decode(encodeWords(text)) diverged from the word stream")
    }
    check(corpus, merges)
    // supplementary-plane text (emoji = 2 UTF-16 units) and null/empty
    val emoji = Seq((1L, "😀😀 a😀b words here"), (2L, null: String),
      (3L, ""), (4L, "  double  spaced  ")).toDF("doc_id", "text")
    check(emoji, Bpe.learnMerges(emoji, 4))
    // the FLAT native stream concatenates to the same content (spaces
    // dropped) — ties BpeTokensExpr's per-word loop into the roundtrip
    val streamCat = Bpe.encodeTokens(emoji, Bpe.learnMerges(emoji, 4))
      .groupBy("doc_id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("pos"),
        col("token")))).getField("token")).as("cat"))
    val wordCat = emoji.select(col("doc_id"),
      concat_ws("", filter(split(coalesce(col("text"), lit("")), " "),
        w => w =!= "")).as("wcat"))
    val mism = streamCat.join(wordCat, "doc_id")
      .filter(col("cat") =!= col("wcat")).count()
    assert(mism === 0L, "flat token stream no longer concatenates to its input")
  }

  // ------------------------------------------------- persisted BpeIndex

  import graft.llm.BpeIndex

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("BpeIndex: build->load roundtrips the learned merge list exactly") {
    val docs = Seq((1L, "low lower lowest low low"),
      (2L, "new newer newest new"), (3L, "wide wider widest")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_rt")
    BpeIndex.build(docs, dir, k = 8)
    val loaded = BpeIndex.load(spark, dir)
    assert(loaded == Bpe.learnMerges(docs, 8))
    // and the stored vocab table carries the same rows as learnBpe
    val stored = BpeIndex.loadVocab(spark, dir)
      .orderBy("rank").collect().map(_.toSeq)
    val learned = Bpe.learnBpe(docs, 8).orderBy("rank").collect().map(_.toSeq)
    assert(stored.toSeq == learned.toSeq)
  }

  test("BpeIndex: token counts through the loaded vocabulary == inline learn") {
    val docs = Seq((1L, "aa ab aa b"), (2L, "ab aa ab")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_tc")
    BpeIndex.build(docs, dir, k = 4)
    val viaIndex = docs.select(col("doc_id"),
      Bpe.tokenCount(col("text"), BpeIndex.load(spark, dir)).as("n"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val inline = docs.select(col("doc_id"),
      Bpe.tokenCount(col("text"), Bpe.learnMerges(docs, 4)).as("n"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(viaIndex == inline)
  }

  test("BpeIndex: load on a missing index raises, naming the dir") {
    val dir = tmpDir("bpe_idx_missing")
    val e = intercept[IllegalStateException] { BpeIndex.load(spark, dir) }
    assert(e.getMessage.contains(dir) && e.getMessage.contains("build()"))
    intercept[IllegalStateException] { BpeIndex.loadVocab(spark, dir) }
  }

  test("BpeIndex: a separator mismatch or torn merges table refuses to load") {
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_torn")
    BpeIndex.build(docs, dir, k = 2)
    val stored = BpeIndex.load(spark, dir)
    val goodSig = BpeIndex.signature(stored)
    val realK = stored.size
    // the hand overwrites below replace the params DIRECTORY, dropping
    // its version stamp — re-stamp from the manifest so the CONTENT
    // checks under test are reached (the stamp tear itself is pinned in
    // the manifest test below)
    val fs = graft.llm.SwapManifest.fsOf(spark, dir)
    def restampParams(): Unit = graft.llm.SwapManifest.stampTables(
      fs, dir, Seq("params"),
      graft.llm.SwapManifest.readManifest(fs, dir).get.apply("params"))
    // separator drift: params claim a different sep than this build's
    Seq((realK, "|", goodSig, "whitespace")).toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    restampParams()
    val e1 = intercept[IllegalArgumentException] { BpeIndex.load(spark, dir) }
    assert(e1.getMessage.contains("separator"))
    // torn artifact: params' k disagrees with the stored merge count
    Seq((5, Bpe.Sep, goodSig, "whitespace")).toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    restampParams()
    val e2 = intercept[IllegalArgumentException] { BpeIndex.load(spark, dir) }
    assert(e2.getMessage.contains("torn"))
    // interleaved builders: k and sep both match the stored merges but
    // the params row belongs to a DIFFERENT build — only the content
    // signature catches the mix
    Seq((realK, Bpe.Sep, goodSig ^ 0x5aL, "whitespace"))
      .toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    restampParams()
    val e3 = intercept[IllegalArgumentException] { BpeIndex.load(spark, dir) }
    assert(e3.getMessage.contains("signature"))
  }

  test("BpeIndex manifest: a torn swap fails loudly at load and is reported by healthCheck") {
    val docs = Seq((1L, "ab ab b cd cd")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_manifest")
    BpeIndex.build(docs, dir, k = 3)
    val h0 = BpeIndex.healthCheck(spark, dir).head()
    assert(h0.getAs[Boolean]("has_manifest") &&
      h0.getAs[String]("stale_tables") == "" && h0.getAs[Boolean]("healthy"))
    // tear the swap by hand: merges carries a stamp the manifest doesn't
    // expect (exactly the state a crash between swapAll's renames and
    // the manifest rewrite leaves behind)
    val fs = graft.llm.SwapManifest.fsOf(spark, dir)
    graft.llm.SwapManifest.stampTables(fs, dir, Seq("merges"), "other-version")
    val e = intercept[IllegalStateException] { BpeIndex.load(spark, dir) }
    assert(e.getMessage.contains("version check") &&
      e.getMessage.contains("torn swap"))
    intercept[IllegalStateException] { BpeIndex.loadVocab(spark, dir) }
    val h1 = BpeIndex.healthCheck(spark, dir).head()
    assert(h1.getAs[Boolean]("has_manifest") &&
      h1.getAs[String]("stale_tables") == "merges" &&
      !h1.getAs[Boolean]("healthy"))
    // rebuild restores a consistent stamped version
    BpeIndex.rebuild(docs, dir, k = 3)
    assert(BpeIndex.healthCheck(spark, dir).head().getAs[Boolean]("healthy"))
    assert(BpeIndex.load(spark, dir).nonEmpty)
  }

  test("BpeIndex: rebuild re-learns on the new corpus and swaps cleanly") {
    val a = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val b = Seq((1L, "new newer newest new"),
      (2L, "wide wider widest")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_rb")
    BpeIndex.build(a, dir, k = 6)
    BpeIndex.rebuild(b, dir, k = 6)
    assert(BpeIndex.load(spark, dir) == Bpe.learnMerges(b, 6))
    // staging and old copies are gone after a clean swap
    for (t <- Seq("merges", "params"); sfx <- Seq("__graft_tmp", "__graft_old"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/$t$sfx")), s"$t$sfx left behind")
    val h = BpeIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("healthy"))
    // rebuild requires an existing index (build creates, rebuild replaces)
    intercept[IllegalStateException] {
      BpeIndex.rebuild(b, tmpDir("bpe_idx_rb_none"), k = 2)
    }
  }

  test("StagedSwap: a failed mid-swap rolls back onto the old version") {
    val v1 = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_rollback")
    BpeIndex.build(v1, dir, k = 2)
    val before = BpeIndex.load(spark, dir)
    // stage a NEW merges copy but no staged params: table 1 (merges)
    // swaps fully, table 2 (params) half-swaps (live -> old succeeds,
    // tmp -> live fails) — the exact torn state phase-1 rollback exists
    // for. Without rollback the index would be left mixed: new merges
    // under old params, which the content signature would catch only at
    // the NEXT load, after the artifact is already torn on disk.
    spark.read.parquet(s"$dir/merges").withColumn("cnt", lit(999L))
      .write.parquet(s"$dir/merges__graft_tmp")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // RawLocalFileSystem throws FileNotFoundException on a missing
    // rename source where HDFS would return false (-> require): either
    // way swapAll's catch-all rollback must run before rethrowing
    val e = intercept[Exception] {
      graft.llm.StagedSwap.swapAll(fs, dir, Seq("merges", "params"))
    }
    assert(e.isInstanceOf[IllegalArgumentException] ||
      e.isInstanceOf[java.io.FileNotFoundException])
    // the live index is the intact OLD version, signature and all
    assert(BpeIndex.load(spark, dir) == before)
    assert(BpeIndex.healthCheck(spark, dir).head().getAs[Boolean]("healthy"))
    // no __graft_old debris; the staged merges copy is re-staged intact
    for (t <- Seq("merges", "params"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/${t}__graft_old")))
    assert(spark.read.parquet(s"$dir/merges__graft_tmp")
      .select(max(col("cnt"))).head().getLong(0) == 999L)
  }

  test("BpeIndex: driftCheck is zero on the training corpus, rises under drift") {
    val train = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_drift")
    BpeIndex.build(train, dir, k = 1) // merge (a,b): 'ab' is ONE token
    val same = BpeIndex.driftCheck(train, dir).head()
    assert(same.getAs[Long]("fert_train_permille") == 1000L)
    assert(same.getAs[Long]("drift_permille") == 0L)
    // a drifted corpus introduces types the vocabulary can't fuse
    val drifted = train.union(Seq((2L, "cd cd cd")).toDF("doc_id", "text"))
    val d = BpeIndex.driftCheck(drifted, dir).head()
    assert(d.getAs[Long]("fert_now_permille") == 1500L) // 9 toks / 6 words
    assert(d.getAs[Long]("drift_permille") == 500L)
    // a pre-fertility-layout artifact refuses driftCheck loudly
    val stored = BpeIndex.load(spark, dir)
    Seq((stored.size, Bpe.Sep, BpeIndex.signature(stored), "whitespace"))
      .toDF("k", "sep", "sig", "pretok")
      .write.mode("overwrite").parquet(s"$dir/params")
    // re-stamp: the overwrite replaced the params dir (stamp and all);
    // the layout check under test sits BEHIND the manifest check
    val fs = graft.llm.SwapManifest.fsOf(spark, dir)
    graft.llm.SwapManifest.stampTables(fs, dir, Seq("params"),
      graft.llm.SwapManifest.readManifest(fs, dir).get.apply("params"))
    val e = intercept[IllegalArgumentException] {
      BpeIndex.driftCheck(train, dir)
    }
    assert(e.getMessage.contains("fertility"))
  }

  test("driftScoreStream + driftReportFrom == batch driftCheck, split- and replay-invariant") {
    val train = Seq((1L, "ab ab"), (3L, "ab cd")).toDF("doc_id", "text")
    val serve = train.union(Seq((2L, "cd cd cd"), (4L, "ef gh"))
      .toDF("doc_id", "text"))
    val dir = tmpDir("bpe_idx_driftmon")
    BpeIndex.build(train, dir, k = 2)
    val batch = BpeIndex.driftCheck(serve, dir).head()
    // any split of the serve corpus, with replays, folds to the same
    // report: the per-doc rows are a pure function of the document
    val half1 = serve.filter(col("doc_id") <= 2L)
    val half2 = serve.filter(col("doc_id") > 2L)
    val scorer = BpeIndex.driftScorer(spark, dir)
    val perDoc = scorer(half1)
      .union(scorer(half2))
      .union(scorer(half1)) // replay
      .distinct()
    val streamed = BpeIndex.driftReportFrom(spark, dir, perDoc).head()
    for (c <- Seq("k", "fert_train_permille", "fert_now_permille",
        "drift_permille"))
      assert(streamed.getAs[Any](c) == batch.getAs[Any](c),
        s"column $c diverged: streamed=$streamed batch=$batch")
    assert(streamed.getAs[Long]("drift_permille") > 0L,
      "the drifted serve corpus must show positive drift")
  }

  test("production-k encode: min-rank indexed loop == sequential per-rank loop") {
    import graft.functions.{BpeCodec, LlmExprs}
    import org.apache.spark.unsafe.types.UTF8String
    // a well-formed list big enough to cross the indexed threshold:
    // learned (by the sequential reference learner) over a synthetic
    // 4-letter-alphabet corpus with enough distinct types to sustain
    // 100+ merges
    val rng = new scala.util.Random(7)
    val types = (1 to 260).map(_ =>
      (1 to 3 + rng.nextInt(6)).map(_ => "abcd"(rng.nextInt(4))).mkString)
    val texts = (1 to 120).map(_ =>
      (1 to 12).map(_ => types(rng.nextInt(types.size))).mkString(" "))
    val ms = refLearn(texts, 120)
    assert(ms.size >= BpeCodec.IndexedThreshold,
      s"fixture too small: ${ms.size} merges")
    val lhs = ms.map(_.lhs).toArray
    val rhs = ms.map(_.rhs).toArray
    val codec = new BpeCodec(lhs, rhs)
    assert(codec.wellFormed && codec.useIndexed)
    // every corpus text, plus OOV words and mixed seen/unseen, must
    // count AND tokenize identically under both loops
    val probes = texts ++ Seq("", "zzz unseen", "abcdabcd " + types.head,
      types.take(5).mkString(" ") + " qqqq")
    probes.foreach { t =>
      val u = UTF8String.fromString(t)
      assert(LlmExprs.bpeCount(u, codec) == LlmExprs.bpeCount(u, lhs, rhs),
        s"count diverged on '$t'")
      assert(LlmExprs.bpeTokens(u, codec).toString ==
        LlmExprs.bpeTokens(u, lhs, rhs).toString,
        s"stream diverged on '$t'")
    }
  }

  test("production-k encode: malformed lists and small k dispatch sequential") {
    import graft.functions.BpeCodec
    // rank 1 = (x, ab) uses a symbol only rank 2 creates: min-rank-first
    // would fire it where the sequential replay never can — the codec
    // must detect the malformation and refuse the indexed path
    val bad = new BpeCodec(Array("x", "a"), Array("ab", "b"))
    assert(!bad.wellFormed && !bad.useIndexed)
    // well-formed but below the threshold: sequential wins on constants
    val small = new BpeCodec(Array("a", "ab"), Array("b", "c"))
    assert(small.wellFormed && !small.useIndexed)
    // duplicate pair keeps the FIRST rank (what a sequential replay fires)
    val dup = new BpeCodec(
      (0 until 70).map(i => if (i == 69) "a" else "x").toArray,
      (0 until 70).map(i => if (i == 69) "b" else "x").toArray)
    assert(dup.rankOf("x", "x") == 0)
  }

  test("production-k encode: merged-string REUSE is malformed (indexed would diverge on it)") {
    import graft.functions.{BpeCodec, LlmExprs}
    import org.apache.spark.unsafe.types.UTF8String
    // the round-17 advice fixture: every component is a single code
    // point or an earlier merged string, but rank 5 (ab,c) RE-CREATES
    // rank 3's merged string "abc" — on word "xabc" the sequential
    // replay yields [x, abc] while a min-rank loop would fire rank 4
    // (x,abc) on the late-recreated "abc" and yield [xabc]. A learned
    // list never re-creates an eliminated pair's output, so uniqueness
    // of merged strings is part of well-formedness; this list must
    // dispatch sequential.
    val head = Seq(("a", "b"), ("b", "c"), ("a", "bc"), ("x", "abc"),
      ("ab", "c"))
    val pad = (0 until 64).map(i => (s"p$i!", s"q$i!")) // keep length ≥ threshold
    // pad pairs use multi-char components never created earlier, which
    // already makes them malformed — so build the reuse fixture FIRST
    // and assert on a codec of just the head padded with single-char
    // self-merges that stay well-formed
    val padOk = for {
      c <- "defghijklmnopqrstuvwxyz"; d <- "0123"
    } yield (c.toString, d.toString) // merged "d0","d1",… all unique
    val all = head ++ padOk.take(64)
    assert(all.size >= BpeCodec.IndexedThreshold)
    val codec = new BpeCodec(all.map(_._1).toArray, all.map(_._2).toArray)
    assert(!codec.wellFormed && !codec.useIndexed,
      "merged-string reuse must be treated as malformed")
    // and the public API stays correct: count/stream on 'xabc' follow
    // the sequential semantics
    val lhs = all.map(_._1).toArray
    val rhs = all.map(_._2).toArray
    val u = UTF8String.fromString("xabc")
    assert(LlmExprs.bpeCount(u, codec) == LlmExprs.bpeCount(u, lhs, rhs))
    assert(LlmExprs.bpeTokens(u, codec).toString ==
      LlmExprs.bpeTokens(u, lhs, rhs).toString)
    assert(LlmExprs.bpeCount(u, codec) == 2L) // [x, abc]
  }

  test("driver-local learn == the distributed merge loop on the real corpus") {
    // the production-k path: the word-TYPE histogram is collected once
    // and the whole merge loop runs driver-local with incremental
    // pair-count maintenance — byte-identical to the O(k)-jobs
    // distributed loop (same weighted counts, same (cnt DESC, lhs, rhs)
    // argmax, same greedy fusion). q107/q129's oracle hashes ride on
    // this equivalence.
    val docs = Tables.documents(spark, sfDir)
    val hist = Bpe.wordHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val local = Bpe.learnMergesLocal(hist, 10)
    val dist = Bpe.learnMergesDistributed(docs, 10)
    assert(local == dist)
  }

  test("learnMerges dispatch: oversized histogram falls back to the distributed loop, identically") {
    val docs = Seq((1L, "low low lower newest newest"))
      .toDF("doc_id", "text")
    val viaLocal = Bpe.learnMerges(docs, 5)
    val viaDist = Bpe.learnMerges(docs, 5, maxLocalTypes = 1)
    assert(viaLocal.nonEmpty && viaLocal == viaDist)
  }

  test("learnMerges dispatch: the fit probe is boundary-inclusive and drives the path choice") {
    // 3 word types: exactly maxLocalTypes rows still run driver-local;
    // one fewer tips to the distributed fallback. The probe is an
    // executor-side limit+count — the driver never collects a histogram
    // it will discard (the round-17 advice: head(maxLocalTypes+1) sized
    // the driver heap by the probe, not the chosen path).
    val docs = Seq((1L, "low low lower newest")).toDF("doc_id", "text")
    val hist = Bpe.wordHistogram(docs)
    assert(hist.count() == 3)
    assert(Bpe.histogramFits(hist, 3))
    assert(!Bpe.histogramFits(hist, 2))
    assert(Bpe.learnMerges(docs, 4, maxLocalTypes = 3) ==
      Bpe.learnMerges(docs, 4, maxLocalTypes = 2))
  }

  test("local argmax ties break in UTF-8 byte order, not UTF-16 (non-BMP lhs)") {
    // U+E000 is EE 80 80 in UTF-8 (< U+1F600's F0 9F 98 80) but its
    // UTF-16 unit 0xE000 sorts ABOVE the surrogate 0xD83D — a Java
    // compareTo tie-break would pick the emoji; Spark's UTF8String
    // binary compare picks U+E000. Both paths must agree.
    val w1 = "😀a" // 😀a
    val w2 = "b"
    val docs = Seq((1L, s"$w1 $w2"), (2L, s"$w2 $w1")).toDF("doc_id", "text")
    val dist = Bpe.learnMergesDistributed(docs, 1)
    val local = Bpe.learnMergesLocal(
      Bpe.wordHistogram(docs).collect()
        .map(r => (r.getString(0), r.getLong(1))), 1)
    assert(local == dist)
    assert(local.head.lhs == "" && local.head.rhs == "b")
  }

  test("chunked pre-tokenization: CJK corpus learns multi-char merges, histogram stays bounded") {
    // whitespace-free script: under the whitespace presplit every
    // SENTENCE is one word type (the histogram degenerates toward the
    // corpus and merges learn sentence fragments); under chunked(4) the
    // histogram is bounded by the distinct-4-gram population and merges
    // learn real multi-character tokens.
    val sent1 = "你好世界你好世界你好"
    val sent2 = "你好世界真好"
    val docs = Seq((1L, sent1), (2L, sent2), (3L, sent1))
      .toDF("doc_id", "text")
    assert(Bpe.wordHistogram(docs).count() == 2) // == distinct sentences
    val chunked = docs.withColumn("text", Bpe.chunkText(col("text"), 4))
    // chunk stream: 你好世界 (cnt 5), 你好 (2), 真好 (1)
    assert(Bpe.wordHistogram(chunked).count() == 3)
    val merges = Bpe.learnMerges(chunked, 3)
    assert(merges.map(m => (m.lhs, m.rhs, m.cnt)) == Seq(
      ("你", "好", 7L), ("世", "界", 5L), ("你好", "世界", 5L)))
    // encode under the SAME chunked surface: doc2 = [你好世界] [真,好]
    // (merge 3 fully fuses the dominant chunk)
    val n = docs.filter(col("doc_id") === 2L)
      .select(Bpe.tokenCount(Bpe.chunkText(col("text"), 4), merges))
      .head.getLong(0)
    assert(n == 3L)
    // decode roundtrips the chunked surface
    val rt = docs.select(Bpe.decode(
      Bpe.encodeWords(Bpe.chunkText(col("text"), 4), merges)).as("t"),
      Bpe.chunkText(col("text"), 4).as("want"))
      .collect()
    rt.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("BpeIndex: stored pre-tokenization mode round-trips and drives the encode surface") {
    val docs = Seq((1L, "你好世界你好世界你好"), (2L, "你好世界真好"))
      .toDF("doc_id", "text")
    val dir = tmpDir("bpe_idx_chunked")
    BpeIndex.build(docs, dir, k = 3, pretok = Bpe.PreTok.chunked(4))
    val (ms, pt) = BpeIndex.loadWithPreTok(spark, dir)
    assert(pt.name == "chunked:4")
    assert(ms == Bpe.learnMerges(
      docs.withColumn("text", Bpe.chunkText(col("text"), 4)), 3))
    val h = BpeIndex.healthCheck(spark, dir).head()
    assert(h.getAs[Boolean]("pretok_ok") && h.getAs[Boolean]("healthy"))
    // a caller must encode on the index's surface — counts via the
    // loaded mode equal the inline chunked chain
    val viaIdx = docs.select(Bpe.tokenCount(pt.prep(col("text")), ms))
      .collect().map(_.getLong(0)).toSeq
    val inline = docs.select(Bpe.tokenCount(
      Bpe.chunkText(col("text"), 4), ms)).collect().map(_.getLong(0)).toSeq
    assert(viaIdx == inline)
    // unknown stored mode refuses to parse
    intercept[IllegalArgumentException] { Bpe.PreTok.parse("bogus") }
    // plain load on a non-whitespace index refuses — a caller that
    // ignores the stored mode would encode on the wrong surface
    val e = intercept[IllegalArgumentException] { BpeIndex.load(spark, dir) }
    assert(e.getMessage.contains("loadWithPreTok"))
  }

  test("mergeUtilization: superseded merge reads as a dead slot, stream shares exact") {
    import spark.implicits._
    val docs = Seq((1L, "abc abc abc"), (2L, "abc xy")).toDF("doc_id", "text")
    val merges = graft.llm.Bpe.learnMerges(docs, 2)
    // round 1 fuses (a,b) [weighted cnt 4], round 2 fuses (ab,c) [4] —
    // every 'ab' is absorbed into 'abc', so rank 1 is a dead slot here;
    // final stream = abc x4 + x + y = 6 tokens
    // size-based broadcasting off, so only the operator's own hint can
    // broadcast: the token counts must be the build side of the
    // vocabulary's left join (a hint on the preserved side is dropped)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val util = graft.llm.Bpe.mergeUtilization(docs, merges)
        .select("rank", "tok", "n_uses", "stream_permille")
      val out = util.as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(out.length === 2)
      assert(out(0) === ((1L, "ab", 0L, 0L)))
      assert(out(1) === ((2L, "abc", 4L, 666L)))
      assert(util.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
