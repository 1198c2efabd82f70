package graft

import graft.llm.{DedupOps, TextFunctions}
import graft.model.Tables
import org.apache.spark.sql.GraftColumnBridge.{exprOf, ofExpr}
import org.apache.spark.sql.functions._

/**
 * Equivalence pins for the round-21 native hot-path expressions: the
 * O(n) monotonic-deque winnow selection (WinnowEncExpr /
 * WinnowValuesExpr) against the O(n·w) HOF formulation it replaced, and
 * the two bigram/window-hash rewrites onto the native ShingleHashList
 * loop. Any divergence — tie-breaking, dedup order, degenerate inputs —
 * fails here before the oracle gate ever sees it.
 */
class WinnowExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)

  // adversarial hash streams: ties everywhere, monotone runs, plateaus,
  // singletons, streams shorter than the window
  private val streams: Seq[Seq[Long]] = Seq(
    Seq(5L),
    Seq(2L, 2L),
    Seq(3L, 1L, 1L, 3L),
    Seq(1L, 1L, 1L, 1L, 1L),
    Seq(9L, 8L, 7L, 6L, 5L, 4L),
    Seq(1L, 2L, 3L, 4L, 5L, 6L),
    Seq(4L, 7L, 4L, 7L, 4L, 7L, 4L),
    Seq(5L, 3L, 8L, 3L, 9L, 1L, 1L, 7L, 2L, 2L),
    (1 to 40).map(i => ((i * 2654435761L) % 97L)),
    Seq(0L, 0L, 5L, 0L, 0L)
  )

  test("WinnowEncExpr ≡ HOF packed selection on adversarial streams") {
    val P = TextFunctions.P
    for (w <- Seq(1, 2, 3, 4, 7, 50)) {
      val df = streams.toDF("hs")
      val got = df.select(
        ofExpr(graft.functions.WinnowEncExpr(exprOf(col("hs")), w, P)),
        DedupOps.winnowEncHof(col("hs"), w, P)).collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"w=$w native=${r.getSeq[Long](0)} hof=${r.getSeq[Long](1)}")
      }
    }
  }

  test("WinnowValuesExpr ≡ HOF value selection on adversarial streams") {
    for (w <- Seq(1, 2, 3, 4, 7, 50)) {
      val df = streams.toDF("hs")
      val got = df.select(
        ofExpr(graft.functions.WinnowValuesExpr(exprOf(col("hs")), w)),
        DedupOps.winnowValuesHof(col("hs"), w)).collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"w=$w native=${r.getSeq[Long](0)} hof=${r.getSeq[Long](1)}")
      }
    }
  }

  test("winnow expressions reject a window below 1 at plan-build time") {
    for (w <- Seq(0, -3)) {
      intercept[IllegalArgumentException](
        graft.functions.WinnowEncExpr(exprOf(col("hs")), w, TextFunctions.P))
      intercept[IllegalArgumentException](
        graft.functions.WinnowValuesExpr(exprOf(col("hs")), w))
    }
  }

  test("winnow expressions ≡ HOF over the fixture corpus") {
    val P = TextFunctions.P
    for ((n, w) <- Seq((3, 4), (2, 1), (5, 8))) {
      val hs = docs.select(col("doc_id"),
        TextFunctions.shingleHashList(col("text"), n).as("hs"))
      val rows = hs.select(
        ofExpr(graft.functions.WinnowEncExpr(exprOf(col("hs")), w, P)),
        DedupOps.winnowEncHof(col("hs"), w, P),
        ofExpr(graft.functions.WinnowValuesExpr(exprOf(col("hs")), w)),
        DedupOps.winnowValuesHof(col("hs"), w)).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"enc n=$n w=$w")
        assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"values n=$n w=$w")
      }
    }
  }

  test("winnow at n≈10⁶ tokens: one row, memory linear in n, ≡ brute force") {
    import graft.functions.{LlmExprs, WinnowEncExpr, WinnowValuesExpr}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val (n, w) = (1000000, 4)
    val P = TextFunctions.P
    val rnd = new scala.util.Random(7)
    val text = Iterator.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    // the real path: a 10⁶-token document through the codegen'd encoders
    val r = Seq(text).toDF("text")
      .select(TextFunctions.shingleHashList(col("text"), 1).as("hs"))
      .select(col("hs"),
        ofExpr(WinnowEncExpr(exprOf(col("hs")), w, P)),
        ofExpr(WinnowValuesExpr(exprOf(col("hs")), w))).head()
    val hs = r.getSeq[Long](0).toArray
    assert(hs.length == n)
    // brute force: each window's rightmost minimum
    val picks = (0 to n - w).map(i => (i until i + w).minBy(j => (hs(j), -j)))
    val enc = picks.map(p => p * P + hs(p))
    assert(r.getSeq[Long](1) == enc.indices.collect {
      case i if i == 0 || enc(i) != enc(i - 1) => enc(i) })
    assert(r.getSeq[Long](2) == picks.map(hs).distinct)
    // Memory per row: the hash copy (8n), the index deque (4n), the output
    // (8n) and its trimmed copy — linear in n, never n·w. The value form
    // also boxes every window's selected value for its hash-set check
    // (16 B per window) and keeps one set entry per distinct value.
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(f: => Any): Long = {
      val t = Thread.currentThread().getId
      val b0 = mx.getThreadAllocatedBytes(t)
      f
      mx.getThreadAllocatedBytes(t) - b0
    }
    val in = new GenericArrayData(hs)
    val encBytes = allocated(LlmExprs.winnowEnc(in, w, P))
    val valBytes = allocated(LlmExprs.winnowValues(in, w))
    assert(encBytes < 36L * n, s"winnowEnc allocated $encBytes B for n=$n")
    assert(valBytes < 48L * n + 64L * 5000,
      s"winnowValues allocated $valBytes B for n=$n")
  }

  test("span window hashes: native shingle form ≡ per-window polyHash HOF") {
    for (width <- Seq(1, 2, 5); mod <- Seq(TextFunctions.P,
        graft.functions.LlmExprs.P48)) {
      val base = docs.select(
        filter(TextFunctions.words(col("text")), x => x =!= "").as("ws"))
      val hof = when(size(col("ws")) >= width,
        transform(sequence(lit(0), size(col("ws")) - width), i =>
          TextFunctions.polyHashMod(
            array_join(slice(col("ws"), i + 1, lit(width)), " "), mod)))
        .otherwise(array().cast("array<long>"))
      val native = when(size(col("ws")) >= width,
        TextFunctions.shingleHashList(array_join(col("ws"), " "), width, mod))
        .otherwise(array().cast("array<long>"))
      base.select(native, hof).collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"width=$width mod=$mod")
      }
    }
  }

  test("bigramBinValues: native shingle form ≡ per-pair concat+hash HOF") {
    val buckets = 64
    val ws = filter(TextFunctions.words(coalesce(col("text"), lit(""))),
      x => x =!= "")
    val hof = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2), i =>
        TextFunctions.polyHash(concat(
          element_at(ws, i + 1), lit(" "), element_at(ws, i + 2))) %
          lit(buckets.toLong)))
      .otherwise(array().cast("array<long>"))
    // null text exercises the coalesce path
    val d = docs.select(col("text"))
      .unionByName(Seq[Option[String]](None, Some(""), Some("one"))
        .toDF("text"))
    d.select(graft.llm.Retrieval.bigramBinValuesForSpec(col("text"), buckets),
        hof).collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }
}
