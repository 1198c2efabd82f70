package graft

import graft.llm.{BpeIndex, ClassifierIndex, DeconIndex, DsirIndex, UnigramIndex}
import graft.model.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Every stream scorer is a LOAD-ONCE closure: model state loads once per
 * stream, not once per micro-batch. These tests apply one closure to
 * several disjoint batches (the foreachBatch shape the streaming queries
 * run it in) and pin each batch's output to its index's batch operator:
 * `score`, `probeWinnow`, or `driftCheck` against the `driftReportFrom`
 * fold of the per-document rows.
 */
class LoadOnceScorerSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("load_once_spec").toString

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def batches = Seq(
    docs.filter(col("doc_id") % 3 === 0),
    docs.filter(col("doc_id") % 3 === 1),
    docs.filter(col("doc_id") % 3 === 2))

  test("DsirIndex.scorer == score per batch") {
    val dir = s"$tmp/dsir"
    DsirIndex.build(docs, docs.filter(col("doc_id") % 4 === 0), dir,
      buckets = 256)
    val sc = DsirIndex.scorer(spark, dir)
    val cols = Seq("doc_id", "n_feats", "lr_bits", "lr_scaled")
    batches.foreach { b =>
      assert(rows(sc(b), cols: _*) ===
        rows(DsirIndex.score(spark, dir, b), cols: _*))
    }
  }

  test("DeconIndex.winnowProber == probeWinnow per batch") {
    val dir = s"$tmp/decon"
    DeconIndex.build(docs.filter(col("doc_id") % 41 === 3), dir)
    val pr = DeconIndex.winnowProber(spark, dir, minShared = 2L)
    val cols = Seq("doc_id", "n_shared", "kept")
    batches.foreach { b =>
      assert(rows(pr(b), cols: _*) ===
        rows(DeconIndex.probeWinnow(b, dir, minShared = 2L), cols: _*))
    }
  }

  test("ClassifierIndex.scorer == score per batch") {
    val dir = s"$tmp/classifier"
    ClassifierIndex.build(docs, dir)
    val sc = ClassifierIndex.scorer(spark, dir)
    batches.foreach { b =>
      assert(rows(sc(b), "doc_id", "pred") ===
        rows(ClassifierIndex.score(spark, dir, b), "doc_id", "pred"))
    }
  }

  private val report =
    Seq("fert_train_permille", "fert_now_permille", "drift_permille")

  test("BpeIndex.driftScorer folded by driftReportFrom == driftCheck per batch") {
    val dir = s"$tmp/bpe"
    BpeIndex.build(docs, dir, k = 8)
    val sc = BpeIndex.driftScorer(spark, dir)
    batches.foreach { b =>
      assert(rows(BpeIndex.driftReportFrom(spark, dir, sc(b)), "k" +: report: _*) ===
        rows(BpeIndex.driftCheck(b, dir), "k" +: report: _*))
    }
  }

  test("UnigramIndex.driftScorer folded by driftReportFrom == driftCheck; tokenStreamer split-invariant") {
    val dir = s"$tmp/unigram"
    UnigramIndex.build(docs, dir, 4, 3, 2L, 64)
    val sc = UnigramIndex.driftScorer(spark, dir)
    val tk = UnigramIndex.tokenStreamer(spark, dir)
    batches.foreach { b =>
      assert(rows(UnigramIndex.driftReportFrom(spark, dir, sc(b)),
          "n_pieces" +: report: _*) ===
        rows(UnigramIndex.driftCheck(b, dir), "n_pieces" +: report: _*))
      // the export of a batch is the whole-corpus export of its docs, and
      // it emits exactly the per-doc token count the drift scorer counts
      val part = tk(b)
      assert(!part.isEmpty)
      assert(rows(part, "doc_id", "pos", "token") ===
        rows(tk(docs).join(b.select("doc_id"), "doc_id"), "doc_id", "pos", "token"))
      assert(rows(part.groupBy("doc_id").count(), "doc_id", "count") ===
        rows(sc(b).filter(col("n_toks") > 0), "doc_id", "n_toks"))
    }
  }
}
