package graft

import graft.llm.DedupOps
import org.apache.spark.sql.functions._

/**
 * Differential fuzzing of the dedup PAIR families: every distributed
 * operator (inverted-index exact Jaccard, its maxDf-capped variant,
 * MinHash+LSH, SimHash banding, connected-component clustering) is
 * cross-checked against an independent SEQUENTIAL reference on seeded
 * random corpora — several seeds, small vocabularies chosen so shingles
 * collide heavily across documents (the regime where pairing bugs
 * live). The references re-derive everything with plain Scala
 * collections (per-pair set intersections, union-find), sharing only
 * the pinned polynomial-hash constant with the operators, so a bug in
 * the join/banding/aggregation shape cannot cancel out of both sides.
 */
class DedupFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L
  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31L + c.toInt) % P)
  private def fround4(x: Double): Double =
    math.floor(x * 10000.0 + 0.5) / 10000.0

  /** n-gram hash MULTISET per doc (SimHash's feature stream) and the
    * distinct SET (Jaccard's shingle set) — words split keeping empties,
    * exactly like the operators' ShingleHashList. */
  private def gramHashes(text: String, n: Int): Seq[Long] = {
    val w = text.split(" ", -1)
    (0 to w.length - n).map(i => polyHash(w.slice(i, i + n).mkString(" ")))
  }

  private def randomCorpus(seed: Long, nDocs: Int, vocab: Vector[String],
      maxLen: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nDocs).map { i =>
      val len = rnd.nextInt(maxLen + 1)
      (i.toLong, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  /** Sequential exact-Jaccard pairs, optionally df-capped with the
    * operator's documented semantics: intersections over surviving
    * shingles only, set sizes full. */
  private def exactPairsRef(corpus: Seq[(Long, String)], n: Int,
      threshold: Double, maxDf: Option[Int]): Map[(Long, Long), Double] = {
    val sets = corpus.map { case (id, t) => id -> gramHashes(t, n).toSet }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (h, o) => h -> o.size }
    val keep: Long => Boolean = maxDf.fold((_: Long) => true)(k => h => df(h) <= k)
    val ids = corpus.map(_._1)
    (for {
      a <- ids; b <- ids if a < b
      inter = (sets(a) intersect sets(b)).count(keep) if inter > 0
      jacc = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if jacc >= threshold
    } yield (a, b) -> fround4(jacc)).toMap
  }

  private def runPairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap

  // Tiny vocabulary => 3-grams collide across most docs: the hot-key,
  // dense-overlap regime.
  private val denseVocab = Vector("a", "b", "c", "d")
  private val seeds = Seq(11L, 42L, 1337L)

  test("fuzz: exact n-gram Jaccard pairs match the sequential reference") {
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      val got = runPairs(DedupOps.ngramJaccardPairs(
        corpus.toDF("doc_id", "text"), n = 3, threshold = 0.3))
      val want = exactPairsRef(corpus, 3, 0.3, None)
      assert(got === want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed produced a vacuous corpus")
    }
  }

  test("fuzz: maxDf-capped Jaccard matches the capped reference, and the cap binds") {
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      val got = runPairs(DedupOps.ngramJaccardPairs(
        corpus.toDF("doc_id", "text"), n = 3, threshold = 0.3, maxDf = Some(3L)))
      val want = exactPairsRef(corpus, 3, 0.3, Some(3))
      assert(got === want, s"seed $seed")
      // the whole point: with a 4-word vocabulary df(shingle) >> 3, so
      // the capped result must differ from the uncapped one — otherwise
      // this test exercises nothing
      assert(want !== exactPairsRef(corpus, 3, 0.3, None), s"seed $seed: cap never bound")
    }
  }

  test("fuzz: containment pairs match the sequential min-set reference") {
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      val got = DedupOps.containmentPairs(
        corpus.toDF("doc_id", "text"), n = 3, threshold = 0.6)
        .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
        .collect().map { case (a, b, c) => (a, b) -> c }.toMap
      val sets = corpus.map { case (id, t) => id -> gramHashes(t, 3).toSet }.toMap
      val ids = corpus.map(_._1)
      val want = (for {
        a <- ids; b <- ids if a < b
        inter = (sets(a) intersect sets(b)).size if inter > 0
        cont = inter.toDouble / math.min(sets(a).size, sets(b).size)
        if fround4(cont) >= 0.6
      } yield (a, b) -> fround4(cont)).toMap
      assert(got === want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed produced a vacuous corpus")
      // the detector's reason to exist: some containment pair must NOT
      // be a Jaccard pair at the same threshold (subset regime)
      val jacc = exactPairsRef(corpus, 3, 0.6, None)
      assert((want.keySet -- jacc.keySet).nonEmpty,
        s"seed $seed: containment never exceeded Jaccard")
    }
  }

  test("fuzz: banded aHash pairs equal the all-pairs Hamming reference (remainder band covered)") {
    implicit val s2 = spark
    def refAHash(text: String, k: Int): Long = {
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      val sums = (0 until k).map { b =>
        val (lo, hi) = ((b * n) / k, ((b + 1) * n) / k)
        (lo until hi).map(bytes(_) & 0xff).sum.toLong
      }
      val total = sums.sum
      sums.zipWithIndex.foldLeft(0L) { case (h, (sb, b)) =>
        val nIn = (((b + 1) * n) / k - (b * n) / k).toLong
        if (sb * n > total * nIn) h | (1L << b) else h
      }
    }
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      def word(len: Int) = Vector.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      val base = (0 until 20).map(i => (i.toLong, word(60 + rnd.nextInt(40))))
      // plant clones and 1-char perturbations — the near-dup regime
      val planted = base.take(6).zipWithIndex.map { case ((id, t), j) =>
        val mutated =
          if (j % 2 == 0) t
          else t.updated(rnd.nextInt(t.length), ('a' + rnd.nextInt(26)).toChar)
        (100L + id, mutated)
      }
      val corpus = base ++ planted
      // maxHamming = 6 forces the NON-TILING 7-band split (six 6-bit +
      // one 12-bit remainder) — a band layout missing the top bits
      // would silently lose pairs differing only there
      val got = graft.llm.Multimodal.aHashPairs(
        graft.llm.Multimodal.mediaFromDocuments(corpus.toDF("doc_id", "text")),
        k = 48, maxHamming = 6)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
        .collect().map { case (a, b, h) => (a, b) -> h }.toMap
      val hashes = corpus.map { case (id, t) => id -> refAHash(t, 48) }
      val want = (for {
        (a, ha) <- hashes; (b, hb) <- hashes if a < b
        h = java.lang.Long.bitCount(ha ^ hb) if h <= 6
      } yield (a, b) -> h.toLong).toMap
      assert(got === want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed planted no catchable pair")
    }
  }

  test("fuzz: MinHash+LSH pairs are a subset of exact pairs with identical Jaccard") {
    for (seed <- seeds) {
      // larger vocab: MinHash banding needs genuine near-dups, so plant
      // them — each doc has a mutated twin (one word changed)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
      val base = randomCorpus(seed, 15, vocab, 20).filter(_._2.split(" ").length >= 6)
      val rnd = new scala.util.Random(seed * 31)
      val twins = base.map { case (id, t) =>
        val w = t.split(" ", -1)
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
        (id + 1000L, w.mkString(" "))
      }
      val corpus = base ++ twins
      val got = runPairs(DedupOps.minhashLshPairs(
        corpus.toDF("doc_id", "text"), n = 3, perms = 32, bands = 8,
        rowsPerBand = 4, threshold = 0.5))
      val want = exactPairsRef(corpus, 3, 0.5, None)
      got.foreach { case (pair, jacc) =>
        assert(want.contains(pair), s"seed $seed: LSH invented pair $pair")
        assert(want(pair) === jacc, s"seed $seed: Jaccard mismatch on $pair")
      }
      assert(got.nonEmpty, s"seed $seed: banding found none of the planted twins")
    }
  }

  test("fuzz: SimHash banding finds exactly the pairs within the Hamming radius") {
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      // independent per-doc SimHash from the raw feature MULTISET
      def simhash(text: String): Option[Long] = {
        val feats = gramHashes(text, 3)
        if (feats.isEmpty) None
        else Some((0 until 32).foldLeft(0L) { (acc, b) =>
          val votes = feats.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
          if (votes > 0) acc | (1L << b) else acc
        })
      }
      val sims = corpus.flatMap { case (id, t) => simhash(t).map(id -> _) }
      val want = (for {
        (a, sa) <- sims; (b, sb) <- sims if a < b
        d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
      } yield (a, b) -> d).toMap
      val got = DedupOps.simhashPairs(corpus.toDF("doc_id", "text"),
        n = 3, maxHamming = 3)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
        .collect().map { case (a, b, d) => (a, b) -> d }.toMap
      assert(got === want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed produced a vacuous corpus")
    }
  }

  test("fuzz: 64-bit SimHash banding == all-pairs Hamming, one flipped bit per 16-bit band included") {
    def hamming(a: (Long, Long, Long), b: (Long, Long, Long)): Int =
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      def u32(): Long = rnd.nextLong() & 0xFFFFFFFFL
      // band j of the fingerprint (lo, hi) is bits 16j..16j+15 of lo ++ hi
      def flip(fp: (Long, Long), band: Int): (Long, Long) = {
        val bit = 1L << (16 * (band % 2) + rnd.nextInt(16))
        if (band < 2) (fp._1 ^ bit, fp._2) else (fp._1, fp._2 ^ bit)
      }
      val base = Vector.fill(24)((u32(), u32()))
      // each of the first 12 fingerprints gets 4 variants: one bit flipped
      // in each of k different bands, k = 1..4 — at k = 3 the pair shares
      // exactly one band, the pigeonhole's last case
      val variants = base.take(12).flatMap(fp => (1 to 4).map(k =>
        rnd.shuffle((0 until 4).toList).take(k).foldLeft(fp)(flip)))
      val fps = (base ++ variants).zipWithIndex
        .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      val oneSharedBand = (0 until 12).map(i => (i.toLong, 24L + 4 * i + 2))
      oneSharedBand.foreach { case (a, b) =>
        assert(hamming(fps(a.toInt), fps(b.toInt)) == 3) }
      for (maxHamming <- 0 to 3) {
        val want = (for {
          a <- fps; b <- fps if a._1 < b._1
          d = hamming(a, b) if d <= maxHamming
        } yield (a._1, b._1) -> d).toMap
        val got = DedupOps.simhash64Pairs(fps.toDF("doc_id", "sh_lo", "sh_hi"),
            maxHamming)
          .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
          .collect().map { case (a, b, d) => (a, b) -> d }.toMap
        assert(got === want, s"seed $seed, maxHamming $maxHamming")
        if (maxHamming == 3) oneSharedBand.foreach(p =>
          assert(got.contains(p), s"seed $seed: one-shared-band pair $p missed"))
      }
    }
  }

  test("fuzz: embedding near-dup pairs are a subset of exact cosine pairs; twins always found") {
    val dim = 16
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 30).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextFloat())))
      // plant exact twins: identical vectors land in identical buckets in
      // EVERY table, so the LSH candidate stage cannot miss them
      val twins = base.take(8).map { case (id, v) => (id + 100L, v.clone()) }
      val corpus = base ++ twins
      // sequential reference: in-order fold cosine, exactly the operator's
      // zip-multiply-then-fold shape (double per element, left-to-right)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        def dot(x: Array[Float], y: Array[Float]) =
          x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p.toDouble * q.toDouble }
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      }
      val threshold = 0.9
      val want = (for {
        (a, va) <- corpus; (b, vb) <- corpus if a < b
        c = cos(va, vb) if c >= threshold
      } yield (a, b) -> fround4(c)).toMap
      val got = graft.llm.SimilaritySearch.embeddingNearDupPairs(
        corpus.toDF("vec_id", "embedding"), dim, threshold = threshold)
        .select("id_a", "id_b", "cos").as[(Long, Long, Double)]
        .collect().map { case (a, b, c) => (a, b) -> c }.toMap
      got.foreach { case (pair, c) =>
        assert(want.contains(pair), s"seed $seed: LSH invented pair $pair")
        assert(want(pair) === c, s"seed $seed: cosine mismatch on $pair")
      }
      val twinPairs = twins.map(t => (t._1 - 100L, t._1))
      twinPairs.foreach { p =>
        assert(got.contains(p), s"seed $seed: planted twin $p missed")
        assert(got(p) === 1.0, s"seed $seed: twin cosine != 1.0")
      }
    }
  }

  test("production stack removes planted verbatim clones AND near-verbatim twins") {
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val rnd = new scala.util.Random(99L)
    val base = (0 until 12).map(i =>
      (i.toLong, Vector.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val clones = base.take(4).flatMap { case (id, t) =>
      (1 to 5).map(r => (id + 100L * r, t)) }                // verbatim ×5
    val twins = base.drop(4).take(4).map { case (id, t) =>
      val w = t.split(" ", -1); w(0) = "zz"; (id + 1000L, w.mkString(" ")) }
    val corpus = base ++ clones ++ twins
    val kept = DedupOps.exactThenNearDedup(corpus.toDF("doc_id", "text"),
      threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // all verbatim clones drop, their min-id originals survive
    clones.foreach { case (id, _) => assert(!kept.contains(id), s"clone $id kept") }
    base.take(4).foreach { case (id, _) => assert(kept.contains(id)) }
    // every near-verbatim twin pair lost exactly its higher id
    twins.foreach { case (id, _) =>
      assert(!kept.contains(id), s"near-dup twin $id kept")
      assert(kept.contains(id - 1000L), s"original of twin $id lost")
    }
  }

  test("fuzz: spanDedupApply rewrite matches the sequential keep-first cut") {
    val width = 4
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      // sequential reference over STRINGS (collision-free ground truth):
      // non-overlapping width-word spans, every instance of a repeated
      // span removed except the minimum (doc_id, idx); the trailing
      // partial span is never a candidate and always survives.
      val insts = corpus.flatMap { case (id, t) =>
        t.split(" ", -1).filter(_.nonEmpty).grouped(width).zipWithIndex
          .collect { case (g, i) if g.length == width => (id, i, g.mkString(" ")) }
      }
      val removed = insts.groupBy(_._3).values.filter(_.size > 1)
        .flatMap(_.sortBy(s => s._1 * 1048576L + s._2).drop(1))
        .map(s => (s._1, s._2)).toSet
      val expect = corpus.map { case (id, t) =>
        val w = t.split(" ", -1).filter(_.nonEmpty)
        val nFull = w.length / width
        val keptSpans = (0 until nFull).filterNot(i => removed((id, i)))
          .flatMap(i => w.slice(i * width, i * width + width))
        id -> (keptSpans ++ w.drop(nFull * width)).mkString(" ")
      }.toMap
      val got = DedupOps.spanDedupApply(corpus.toDF("doc_id", "text"), width)
        .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
      assert(got === expect, s"seed $seed")
      assert(removed.nonEmpty, s"seed $seed produced a vacuous corpus")
    }
  }

  test("fuzz: spanDupRuns matches a sequential gap-and-islands over string spans") {
    val width = 4
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      // sequential reference over STRINGS: duplicated = span text occurs
      // more than once corpus-wide; runs = maximal blocks of contiguous
      // duplicated span indices per doc; rm counts non-first instances
      // under the packed-key keep-first rule.
      val insts = corpus.flatMap { case (id, t) =>
        t.split(" ", -1).filter(_.nonEmpty).grouped(width).zipWithIndex
          .collect { case (g, i) if g.length == width => (id, i, g.mkString(" ")) }
      }
      val byText = insts.groupBy(_._3)
      val dupInsts = byText.values.filter(_.size > 1).flatten
        .map { case (id, i, text) =>
          val first = byText(text).minBy(s => s._1 * 1048576L + s._2)
          (id, i, if ((id, i) == ((first._1, first._2))) 0L else 1L)
        }.toSeq
      val expect = dupInsts.groupBy(_._1).flatMap { case (id, spans) =>
        val sorted = spans.sortBy(_._2)
        // fold into maximal runs of contiguous idx
        sorted.foldLeft(List.empty[(Int, Int, Long)]) {
          case (acc, (_, idx, rm)) => acc match {
            case (s0, n0, r0) :: tail if s0 + n0 == idx =>
              (s0, n0 + 1, r0 + rm) :: tail
            case _ => (idx, 1, rm) :: acc
          }
        }.reverse.map { case (s0, n0, r0) =>
          (id, s0.toLong * width, n0.toLong * width, n0.toLong, r0)
        }
      }.toSet
      val got = DedupOps.spanDupRuns(corpus.toDF("doc_id", "text"), width)
        .select("doc_id", "start_word", "len_words", "n_spans", "n_removed")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got === expect, s"seed $seed")
      assert(expect.nonEmpty, s"seed $seed produced a vacuous corpus")
      // at least one genuinely merged (multi-span) run across the seeds
      // is asserted corpus-wide below via the aggregate
    }
    // dense vocab guarantees some adjacent duplicated spans somewhere:
    // check a multi-span run exists for at least one seed
    val anyMerged = seeds.exists { seed =>
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      DedupOps.spanDupRuns(corpus.toDF("doc_id", "text"), width)
        .filter(col("n_spans") > 1).limit(1).count() > 0
    }
    assert(anyMerged, "no seed produced a merged multi-span run — fixture too sparse")
  }

  test("fuzz: streaming dedup replay over micro-batches == batch simhashPairs on the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val s2i: org.apache.spark.sql.SparkSession = s2
    implicit val sqlCtx2 = s2.sqlContext
    import s2.implicits._
    for (seed <- seeds) {
      // random docs + mutated twins (one word changed) so the Hamming-3
      // band join has genuine work; arrival order shuffled independently
      // of doc_id, split into 3 micro-batches
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val rnd = new scala.util.Random(seed * 17)
      val base = randomCorpus(seed, 20, vocab, 20).filter(_._2.split(" ").length >= 8)
      val twins = base.map { case (id, t) =>
        val w = t.split(" ", -1)
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
        (id + 500L, w.mkString(" "))
      }
      val corpus = rnd.shuffle(base ++ twins)
      val want = DedupOps.simhashPairs(corpus.toDF("doc_id", "text"),
        n = 3, maxHamming = 3)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
      val source = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamDedup.dupPairs(
        source.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(s"sdedup_fuzz_$seed")
        .outputMode("update").start()
      try {
        corpus.grouped((corpus.size + 2) / 3).foreach { batch =>
          source.addData(batch)
          q.processAllAvailable()
        }
        val got = s2.table(s"sdedup_fuzz_$seed").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(got === want, s"seed $seed")
        assert(want.nonEmpty, s"seed $seed: no pairs to find")
      } finally q.stop()
    }
  }

  test("incremental dedup: planted appends — exact vs corpus, near vs corpus, within-batch") {
    val existing = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "kilo lima mike november oscar papa quebec romeo sierra tango")
    ).toDF("doc_id", "text")
    val nearOf2 = "kilo lima mike november oscar papa quebec romeo sierra zulu"
    val freshTxt = "uniform victor whiskey xray yankee zebra anchor bridge castle dragon"
    val nearOfFresh = "uniform victor whiskey xray yankee zebra anchor bridge castle falcon"
    val incoming = Seq(
      (100L, Some("alpha bravo charlie delta echo foxtrot golf hotel india juliet")), // verbatim of corpus doc 1
      (101L, Some(nearOf2)), //   near-dup of corpus doc 2: dropped
      (102L, Some(freshTxt)), //  genuinely new: kept
      (103L, Some("first of two in-batch clones first of two in-batch clones")),
      (104L, Some("first of two in-batch clones first of two in-batch clones")), // in-batch verbatim: min id kept
      (105L, Option.empty[String]), // unknown content: kept
      (106L, Some(nearOfFresh)) //  near-dup of 102 within the batch: 102 is rep, 106 dropped
    ).toDF("doc_id", "text")
    val kept = DedupOps.incrementalDedup(existing, incoming, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(102L, 103L, 105L))
  }

  test("fuzz: incremental dedup with an empty corpus == the production stack on the batch") {
    for (seed <- seeds) {
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
      val rnd = new scala.util.Random(seed * 7)
      val base = randomCorpus(seed, 15, vocab, 20).filter(_._2.split(" ").length >= 6)
      val twins = base.map { case (id, t) =>
        val w = t.split(" ", -1)
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
        (id + 1000L, w.mkString(" "))
      }
      val clones = base.take(3).map { case (id, t) => (id + 2000L, t) }
      val batch = (base ++ twins ++ clones).toDF("doc_id", "text")
      val viaIncremental = DedupOps.incrementalDedup(
        batch.filter(lit(false)), batch, threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted
      val viaStack = DedupOps.exactThenNearDedup(batch, threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted
      assert(viaIncremental === viaStack, s"seed $seed")
      assert(viaIncremental.length < base.size + twins.size + clones.size,
        s"seed $seed: nothing deduped — vacuous corpus")
    }
  }

  test("fuzz: duplicate clusters match a sequential union-find on the same pairs") {
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 40, denseVocab, 25)
      val pairs = exactPairsRef(corpus, 3, 0.3, None).keys.toSeq
      // sequential union-find with min-label components
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val want = members.map(m => m -> find(m)).toMap
      val got = DedupOps.duplicateClusters(DedupOps.ngramJaccardPairs(
        corpus.toDF("doc_id", "text"), n = 3, threshold = 0.3))
        .select("doc_id", "cluster_rep").as[(Long, Long)]
        .collect().toMap
      assert(got === want, s"seed $seed")
      assert(want.values.toSet.size < members.size, s"seed $seed: no non-trivial cluster")
    }
  }

  test("fuzz: DSIR scores and top-slice match the sequential reference (bin collisions forced)") {
    // 9th family: hashed-bigram importance weights. buckets = 16 forces
    // heavy bin collisions — the regime where a wrong bucket join or a
    // missed add-one smoothing would diverge from the reference.
    val buckets = 16
    def feats(t: String): Seq[Long] = {
      val w = t.split(" ", -1).filter(_.nonEmpty)
      if (w.length < 2) Seq.empty
      else (0 until w.length - 1).map(i => polyHash(w(i) + " " + w(i + 1)) % buckets)
    }
    def bitlen(x: Long): Long = (64 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    for (seed <- seeds) {
      val pool = randomCorpus(seed, 40, denseVocab, 25)
      val target = randomCorpus(seed + 1000, 15, denseVocab, 25)
      val cr = pool.flatMap(d => feats(d._2)).groupBy(identity)
        .map { case (b, o) => b -> o.size.toLong }
      val ct = target.flatMap(d => feats(d._2)).groupBy(identity)
        .map { case (b, o) => b -> o.size.toLong }
      val want = pool.map { case (id, t) =>
        val fs = feats(t)
        val n = fs.size.toLong
        val lr = fs.map(b => bitlen(ct.getOrElse(b, 0L) + 1) - bitlen(cr(b) + 1)).sum
        val scaled = if (n > 0) (lr + 64 * n) * 10000 / n else 0L
        id -> ((n, lr, scaled))
      }.toMap
      val got = graft.llm.Retrieval.dsirScores(pool.toDF("doc_id", "text"),
        target.toDF("doc_id", "text"), buckets)
        .select("doc_id", "n_feats", "lr_bits", "lr_scaled")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === want, s"seed $seed")
      assert(want.values.exists(_._2 != 0L), s"seed $seed: vacuous weights")
      // the selector keeps exactly the reference's top-⌊n/2⌋ under
      // (weight desc, id asc)
      val refOrder = pool.map(_._1).sortBy(id => (-want(id)._3, id))
      val refKept = refOrder.take(pool.size * 500 / 1000).toSet
      val gotKept = graft.llm.Retrieval.dsirSelect(pool.toDF("doc_id", "text"),
        target.toDF("doc_id", "text"), buckets, keepPermille = 500L)
        .select("doc_id").as[Long].collect().toSet
      assert(gotKept === refKept, s"seed $seed")
    }
  }

  test("fuzz: DoReMi mixture and fill match the sequential reference (zero-mass domains forced)") {
    // 10th family: the linear multiplicative-weights reweighting and its
    // mass-quota materialization. randomCorpus emits empty and one-word
    // docs, so some domains carry zero bigram mass — the floor regime.
    def wordsOf(t: String) = t.split(" ", -1).filter(_.nonEmpty).toVector
    def bitlen(x: Long): Long =
      (64 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    for (seed <- seeds) {
      val base = randomCorpus(seed, 40, denseVocab, 12)
      val pool = base.map { case (id, t) => (id, t, s"s${id % 4}") }
      val trainTexts = randomCorpus(seed + 500, 15, denseVocab, 12).map(_._2)
      // sequential add-one bigram model over the train slice
      val trW = trainTexts.map(wordsOf)
      val uni = trW.flatten.groupBy(identity)
        .map { case (w, o) => w -> o.size.toLong }
      val v = uni.size.toLong
      val bi = trW.filter(_.length >= 2)
        .flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))))
        .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
      def docStats(t: String): (Long, Long) = {
        val ws = wordsOf(t)
        if (ws.length < 2) (0L, 0L)
        else {
          val bgs = ws.sliding(2).map(p => (p(0), p(1))).toVector
          (bgs.size.toLong, bgs.map { case (w1, w2) =>
            bitlen(uni.getOrElse(w1, 0L) + v) -
              bitlen(bi.getOrElse((w1, w2), 0L) + 1L)
          }.sum)
        }
      }
      val doms = pool.groupBy(_._3).map { case (s, ds) =>
        val st = ds.map(d => docStats(d._2))
        s -> ((ds.size.toLong, st.map(_._1).sum, st.map(_._2).sum))
      }
      val avg = doms.map { case (s, (_, m, b)) =>
        s -> (BigInt(b) * 10000 / BigInt(m max 1L)).toLong
      }
      val minAvg = avg.values.min
      val weight = doms.map { case (s, (_, m, _)) =>
        s -> BigInt(m) * BigInt(10000L + avg(s) - minAvg)
      }
      val wTot = weight.values.sum
      val massTot = doms.values.map(_._2).sum
      val wantMix = doms.keys.map { s =>
        val (nd, m, _) = doms(s)
        s -> ((nd, m, avg(s), avg(s) - minAvg,
          (BigInt(m) * 1000 / BigInt(massTot max 1L)).toLong,
          if (wTot > 0) (weight(s) * 1000 / wTot).toLong else 0L))
      }.toMap
      val poolDf = pool.toDF("doc_id", "text", "source")
      val trainDf = trainTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val gotMix = graft.llm.Retrieval.doremiMixture(poolDf, trainDf)
        .select("domain", "n_docs", "n_bigrams", "avg_scaled",
          "excess_scaled", "base_permille", "mix_permille")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
      assert(gotMix === wantMix, s"seed $seed")
      assert(doms.values.exists(_._2 == 0L) ||
        avg.values.exists(_ != minAvg), s"seed $seed: vacuous fixture")
      // the fill keeps exactly the reference's quota prefix per domain
      val budget = 50L
      val quota = weight.map { case (s, w) =>
        s -> (if (wTot > 0) (BigInt(budget) * w / wTot).toLong else 0L)
      }
      val wantKept = pool.groupBy(_._3).flatMap { case (s, ds) =>
        val ordered = ds.sortBy(d => (polyHash("graft#" + d._2), d._1))
        var cum = 0L
        ordered.flatMap { d =>
          val n = math.max(wordsOf(d._2).length - 1, 0).toLong
          val before = cum; cum += n
          if (before < quota(s)) Some(d._1) else None
        }
      }.toSet
      val gotKept = graft.llm.TextAnalysis.doremiSelect(poolDf, trainDf,
        massBudget = budget)
        .select("doc_id").as[Long].collect().toSet
      assert(gotKept === wantKept, s"seed $seed")
    }
  }

  test("fuzz: winnow fingerprints match the sequential rightmost-min reference; coverage guarantee holds") {
    // 11th family: MOSS winnowing. Dense 4-word vocab forces hash ties
    // inside windows — the regime where a wrong tie rule diverges.
    val (n, w) = (3, 4)
    def winnowRef(t: String): Set[(Long, Long)] = {
      val hs = gramHashes(t, n)
      if (hs.isEmpty) Set.empty
      else {
        val wl = math.min(w, hs.size)
        (0 to hs.size - wl).map { i =>
          val sl = hs.slice(i, i + wl)
          val mn = sl.min
          ((i + sl.lastIndexOf(mn)).toLong, mn)
        }.toSet
      }
    }
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 30, denseVocab, 20)
      val want = corpus.map { case (id, t) => id -> winnowRef(t) }
        .filter(_._2.nonEmpty).toMap
      val got = graft.llm.DedupOps.winnowFingerprints(
        corpus.toDF("doc_id", "text"), n, w)
        .select("doc_id", "pos", "fp").as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.map(r => (r._2, r._3)).toSet
        }
      assert(got === want, s"seed $seed")
      // selection density: winnowing picks a strict subset on long docs
      assert(want.exists { case (id, s) =>
        s.size < gramHashes(corpus.find(_._1 == id).get._2, n).size
      }, s"seed $seed: vacuous (nothing thinned)")
    }
    // the winnowing guarantee: a shared run of >= n + w - 1 words forces
    // at least one shared fingerprint VALUE (here an 8-word quote inside
    // otherwise-disjoint documents)
    val quote = "x1 x2 x3 x4 x5 x6 x7 x8"
    val pair = Seq(
      (1L, s"p q r $quote s t u v w"),
      (2L, s"k l m n o $quote y z")).toDF("doc_id", "text")
    val fps = graft.llm.DedupOps.winnowFingerprints(pair, n, w)
      .select("doc_id", "fp").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "shared 8-word run must force a shared fingerprint")
    // and winnowPairs surfaces exactly that pair
    val prs = graft.llm.DedupOps.winnowPairs(pair, n, w, minShared = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(prs === Set((1L, 2L)))
  }

  test("fuzz: winnowScrub matches the sequential scrub reference") {
    // 12th family: the surgical span scrub. Dense vocab so corpus and
    // benchmark REALLY share prints; w = 2 raises print density so the
    // scrub path (not the untouched path) dominates.
    val (n, w, minShared) = (3, 2, 2L)
    def winnowRef(t: String): Set[(Long, Long)] = {
      val hs = gramHashes(t, n)
      if (hs.isEmpty) Set.empty
      else {
        val wl = math.min(w, hs.size)
        (0 to hs.size - wl).map { i =>
          val sl = hs.slice(i, i + wl)
          val mn = sl.min
          ((i + sl.lastIndexOf(mn)).toLong, mn)
        }.toSet
      }
    }
    def scrubRef(t: String, bp: Set[Long]): (Long, Long, String) = {
      val prints = winnowRef(t)
      val nShared = (prints.map(_._2) intersect bp).size.toLong
      if (nShared < minShared) (nShared, 0L, t)
      else {
        val ws = t.split(" ", -1)
        val starts = prints.filter(p => bp.contains(p._2)).map(_._1)
        val kept = ws.indices.filterNot(i =>
          starts.exists(s => s <= i && i <= s + n - 1))
        (nShared, (ws.length - kept.size).toLong,
          kept.map(ws).mkString(" "))
      }
    }
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 20, denseVocab, 18)
      val bench = randomCorpus(seed + 1000, 6, denseVocab, 18)
      val bp = bench.flatMap { case (_, t) => winnowRef(t).map(_._2) }.toSet
      val want = corpus.map { case (id, t) => id -> scrubRef(t, bp) }.toMap
      val got = graft.llm.DedupOps.winnowScrub(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n, w, minShared)
        .select("doc_id", "n_shared", "n_removed", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === want, s"seed $seed")
      assert(want.values.exists(_._2 > 0L), s"seed $seed: vacuous (nothing scrubbed)")
      assert(want.values.exists(_._2 == 0L), s"seed $seed: vacuous (everything scrubbed)")
    }
  }

  test("fuzz: winnowScrubVerified reaches the sequential fixpoint; adversarial butt-splices converge clean") {
    // 13th family: the VERIFIED scrub. Part A iterates the family-12
    // sequential reference to its fixpoint on dense random corpora and
    // pins the operator to it per doc; part B PLANTS the butt-splice
    // corpus (removal forms a new benchmark gram) per seed and proves
    // the one-pass scrub leaks while the verified scrub converges clean.
    def winnowRefAt(t: String, n: Int, w: Int): Set[(Long, Long)] = {
      val hs = gramHashes(t, n)
      if (hs.isEmpty) Set.empty
      else {
        val wl = math.min(w, hs.size)
        (0 to hs.size - wl).map { i =>
          val sl = hs.slice(i, i + wl)
          val mn = sl.min
          ((i + sl.lastIndexOf(mn)).toLong, mn)
        }.toSet
      }
    }
    def scrubRefAt(t: String, bp: Set[Long], n: Int, w: Int,
        minShared: Long): (Long, Long, String) = {
      val prints = winnowRefAt(t, n, w)
      val nShared = (prints.map(_._2) intersect bp).size.toLong
      if (nShared < minShared) (nShared, 0L, t)
      else {
        val ws = t.split(" ", -1)
        val starts = prints.filter(p => bp.contains(p._2)).map(_._1)
        val kept = ws.indices.filterNot(i =>
          starts.exists(s => s <= i && i <= s + n - 1))
        (nShared, (ws.length - kept.size).toLong, kept.map(ws).mkString(" "))
      }
    }
    def verifiedRef(t: String, bp: Set[Long], n: Int, w: Int,
        minShared: Long): (Long, Long, String) = {
      val first = scrubRefAt(t, bp, n, w, minShared)
      var (total, cur, last) = (first._2, first._3, first._2)
      while (last > 0) {
        val r = scrubRefAt(cur, bp, n, w, minShared)
        last = r._2; total += last; cur = r._3
      }
      (first._1, total, cur)
    }
    // part A — fixpoint ≡ sequential reference on the family-12 corpora
    val (n, w, minShared) = (3, 2, 2L)
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 20, denseVocab, 18)
      val bench = randomCorpus(seed + 1000, 6, denseVocab, 18)
      val bp = bench.flatMap { case (_, t) => winnowRefAt(t, n, w).map(_._2) }.toSet
      val want = corpus.map { case (id, t) =>
        id -> verifiedRef(t, bp, n, w, minShared) }.toMap
      val got = graft.llm.DedupOps.winnowScrubVerified(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n, w, minShared)
        .select("doc_id", "n_shared", "n_removed", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === want, s"seed $seed")
      // the certificate: no output doc trips the gate any more
      assert(got.values.forall { case (_, _, t) =>
        (winnowRefAt(t, n, w).map(_._2) intersect bp).size < minShared
      }, s"seed $seed: verified output still contaminated")
    }
    // part B — planted adversarial splice, fresh word identities per seed
    for (seed <- seeds) {
      val v = (0 until 10).map(i => s"w${seed}_$i")
      // bench holds run1 (v3 v4 v5), run2 (v6 v7 v8) and the gram
      // (v0 v1 v2); the corpus doc interleaves so that removing run1 and
      // run2 butts v0 v1 against v2 — forming the benchmark gram the
      // original text never contained
      val bench = Seq((100L, s"${v(3)} ${v(4)} ${v(5)} ${v(9)} ${v(6)} ${v(7)} ${v(8)} ${v(0)} ${v(1)} ${v(2)}"))
      val corpus = Seq((1L, s"${v(0)} ${v(1)} ${v(3)} ${v(4)} ${v(5)} ${v(2)} ${v(6)} ${v(7)} ${v(8)} x$seed"))
      val bp = bench.flatMap { case (_, t) => winnowRefAt(t, 3, 1).map(_._2) }.toSet
      val once = graft.llm.DedupOps.winnowScrub(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n = 3, w = 1, minShared = 1L)
        .select("text").as[String].head()
      // the one-pass scrub provably leaks: its output still shares a print
      assert((winnowRefAt(once, 3, 1).map(_._2) intersect bp).nonEmpty,
        s"seed $seed: splice did not leak (fixture broken)")
      val ver = graft.llm.DedupOps.winnowScrubVerified(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n = 3, w = 1, minShared = 1L)
        .select("n_removed", "text").as[(Long, String)].head()
      assert((winnowRefAt(ver._2, 3, 1).map(_._2) intersect bp).isEmpty,
        s"seed $seed: verified scrub leaked")
      val seqRef = verifiedRef(corpus.head._2, bp, 3, 1, 1L)
      assert(ver === ((seqRef._2, seqRef._3)), s"seed $seed")
      // and convergence genuinely took more than one productive round
      val oncePass = scrubRefAt(corpus.head._2, bp, 3, 1, 1L)
      assert(ver._1 > oncePass._2, s"seed $seed: single round sufficed (fixture broken)")
    }
  }

  test("fuzz: spanExtents/spanExtentDedupApply match the sequential sliding-window reference") {
    // 14th family: variable-length exact-substring dedup. The reference
    // keys windows by their literal string (the operator's double-
    // modulus hash pair stands in for string identity), flags corpus-
    // duplicated non-canonical instances, and merges overlap-or-adjacent
    // window starts into maximal extents.
    val width = 3
    val idxBits = 1048576L
    def ref(corpus: Seq[(Long, String)])
        : (Map[Long, Seq[(Long, Long, Long)]], Map[Long, (Long, String)]) = {
      val wordsOf = corpus.map { case (id, t) =>
        id -> t.split(" ", -1).filter(_.nonEmpty).toVector }.toMap
      val wins = corpus.flatMap { case (id, _) =>
        val ws = wordsOf(id)
        (0 to ws.length - width).map(i =>
          (id, i, ws.slice(i, i + width).mkString(" ")))
      }
      val grp = wins.groupBy(_._3).map { case (k, vs) =>
        k -> (vs.size, vs.map(v => v._1 * idxBits + v._2).min) }
      val flagged = wins.filter { case (id, i, k) =>
        grp(k)._1 > 1 && id * idxBits + i != grp(k)._2 }
        .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).sorted }
      val exts = flagged.map { case (id, starts) =>
        id -> starts.foldLeft(Vector.empty[(Int, Int, Int)]) { (acc, s) =>
          if (acc.nonEmpty && s <= acc.last._2 + 1)
            acc.init :+ ((acc.last._1, s + width - 1, acc.last._3 + 1))
          else acc :+ ((s, s + width - 1, 1))
        }
      }
      val extTable = exts.map { case (id, es) =>
        id -> es.map(e =>
          (e._1.toLong, (e._2 - e._1 + 1).toLong, e._3.toLong)) }
      val applied = corpus.map { case (id, _) =>
        val ws = wordsOf(id)
        val es = exts.getOrElse(id, Vector.empty)
        val kept = ws.indices.filterNot(i =>
          es.exists(e => e._1 <= i && i <= e._2))
        id -> (kept.size.toLong, kept.map(ws).mkString(" "))
      }.toMap
      (extTable, applied)
    }
    for (seed <- seeds) {
      val corpus = randomCorpus(seed, 24, denseVocab, 16)
      val (wantExt, wantApply) = ref(corpus)
      val gotExt = graft.llm.DedupOps.spanExtents(
          corpus.toDF("doc_id", "text"), width)
        .select("doc_id", "start_word", "len_words", "n_windows")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq }
      assert(gotExt === wantExt.filter(_._2.nonEmpty), s"seed $seed")
      val gotApply = graft.llm.DedupOps.spanExtentDedupApply(
          corpus.toDF("doc_id", "text"), width)
        .select("doc_id", "n_tokens_kept", "text_clean")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(gotApply === wantApply, s"seed $seed")
      assert(wantExt.values.exists(_.nonEmpty), s"seed $seed: vacuous (no extents)")
    }
    // the headline claim vs the TILE family: a verbatim block duplicated
    // at DIFFERENT width-phases is removed as ONE run at true boundaries
    val block = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    val pair = Seq(
      (1L, s"p1 p2 p3 $block q1 q2"),            // block at word 3
      (2L, s"r1 r2 r3 r4 r5 r6 r7 $block s1")    // block at word 7 (phase ≠ mod 8)
    ).toDF("doc_id", "text")
    val ext8 = graft.llm.DedupOps.spanExtents(pair, width = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(ext8.toSeq === Seq((2L, 7L, 12L, 5L)),
      "the later copy must surface as ONE 12-word extent at word 7")
    // the fixed-tile family at the same width finds NO duplicate here
    // (the copies sit at different tile phases) — the gap this closes
    val tiles = graft.llm.DedupOps.spanDedupStats(pair, width = 8)
      .select("doc_id", "n_dup_spans").as[(Long, Long)].collect()
    assert(tiles.forall(_._2 === 0L), "tile family blind by phase (expected)")
    // and the rewrite cuts exactly the block, keeping true flanks
    val applied = graft.llm.DedupOps.spanExtentDedupApply(pair, width = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(applied(0) === ((1L, 17L, s"p1 p2 p3 $block q1 q2")))
    assert(applied(1) === ((2L, 8L, "r1 r2 r3 r4 r5 r6 r7 s1")))
  }

  test("fuzz: UnicodeAligned scrub matches the sequential aligned reference; cuts hit raw words") {
    // 15th family: the position-preserving unicode scrub. Corpus words
    // get seeded case/punctuation NOISE (word-preserving transforms), so
    // the raw stream shares nothing with the clean benchmark while the
    // per-word-normalized stream shares everything; the reference
    // fingerprints the NORMALIZED stream and cuts the RAW one — exactly
    // the operator's contract. Dense vocab, w = 2 (family-12 regime).
    val (n, w, minShared) = (3, 2, 2L)
    def normWord(x: String): String =
      x.toLowerCase(java.util.Locale.ROOT).replaceAll("[^\\p{L}\\p{N}]", "")
    def alignedGramHashes(t: String): Seq[Long] = {
      val ws = t.split(" ", -1).map(normWord)
      (0 to ws.length - n).map(i => polyHash(ws.slice(i, i + n).mkString(" ")))
    }
    def winnowRefA(t: String): Set[(Long, Long)] = {
      val hs = alignedGramHashes(t)
      if (hs.isEmpty) Set.empty
      else {
        val wl = math.min(w, hs.size)
        (0 to hs.size - wl).map { i =>
          val sl = hs.slice(i, i + wl)
          val mn = sl.min
          ((i + sl.lastIndexOf(mn)).toLong, mn)
        }.toSet
      }
    }
    def scrubRefA(t: String, bp: Set[Long]): (Long, Long, String) = {
      val prints = winnowRefA(t)
      val nShared = (prints.map(_._2) intersect bp).size.toLong
      if (nShared < minShared) (nShared, 0L, t)
      else {
        val ws = t.split(" ", -1)
        val starts = prints.filter(p => bp.contains(p._2)).map(_._1)
        val kept = ws.indices.filterNot(i =>
          starts.exists(s => s <= i && i <= s + n - 1))
        (nShared, (ws.length - kept.size).toLong, kept.map(ws).mkString(" "))
      }
    }
    def verifiedRefA(t: String, bp: Set[Long]): (Long, Long, String) = {
      val first = scrubRefA(t, bp)
      var (total, cur, last) = (first._2, first._3, first._2)
      while (last > 0) {
        val r = scrubRefA(cur, bp)
        last = r._2; total += last; cur = r._3
      }
      (first._1, total, cur)
    }
    def noisy(t: String, rnd: scala.util.Random): String =
      t.split(" ", -1).map { x =>
        val up = if (x.nonEmpty && rnd.nextInt(10) < 3) x.toUpperCase else x
        rnd.nextInt(10) match {
          case 0 => up + ","
          case 1 => up + "!"
          case 2 => "\"" + up
          case _ => up
        }
      }.mkString(" ")
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed + 7)
      val corpus = randomCorpus(seed, 20, denseVocab, 18)
        .map { case (id, t) => (id, noisy(t, rnd)) }
      val bench = randomCorpus(seed + 1000, 6, denseVocab, 18)
      val bp = bench.flatMap { case (_, t) => winnowRefA(t).map(_._2) }.toSet
      val want = corpus.map { case (id, t) => id -> verifiedRefA(t, bp) }.toMap
      val got = graft.llm.DedupOps.winnowScrubVerified(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n, w, minShared,
          tok = graft.llm.DedupOps.Tokenizer.UnicodeAligned)
        .select("doc_id", "n_shared", "n_removed", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === want, s"seed $seed")
      assert(want.values.exists(_._2 > 0L), s"seed $seed: vacuous (nothing scrubbed)")
      assert(want.values.exists(_._2 == 0L), s"seed $seed: vacuous (everything scrubbed)")
      // the RAW-surface scrub sees none of it: every shared print needs
      // the aligned normalization (noise touched the corpus only)
      val raw = graft.llm.DedupOps.winnowScrubVerified(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
          n, w, minShared)
        .select("doc_id", "n_removed").as[(Long, Long)].collect()
      // noise is probabilistic per word, so SOME doc may stay clean-
      // cased and raw-visible; the sharp claim is corpus-total: aligned
      // strictly out-removes the raw-surface scrub on a noised corpus
      val rawTotal = raw.map(_._2).sum
      val alignedTotal = want.values.map(_._2).sum
      assert(alignedTotal > rawTotal, s"seed $seed: aligned found no extra leakage")
    }
  }
}
