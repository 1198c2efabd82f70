package graft.llm

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import IndexLifecycle.{Check, Health, Inspected}

/**
 * Persisted quality-classifier model — the sixth index lifecycle beside
 * [[DedupIndex]] / [[IvfIndex]] / [[DeconIndex]] / [[BpeIndex]] /
 * [[DsirIndex]]: [[Classifier.centroidGate]]'s trained model is ONE row
 * of class counts and per-feature class sums, trained once on a labeled
 * snapshot and then applied to every incoming batch — retraining the
 * teacher per batch would let the gate DRIFT with each batch's own
 * distribution, which is exactly what a frozen production filter must
 * not do (FineWeb/CCNet freeze their classifier for the whole crawl).
 *
 * Layout: `model` (the 1-row centroid table) + `params` (threshold in
 * permille, an FNV-1a content signature over the model row). `score`
 * validates the signature on load — a torn write or an interleaved
 * rebuild that shares the threshold loads loudly, never silently
 * ([[BpeIndex]]'s rule). Rebuild-not-append: the model is an aggregate
 * of its whole training set; accreting rows would mix two teachers'
 * distributions (the [[DsirIndex]] rationale).
 */
object ClassifierIndex {

  // derived from the SAME feature list the model aggregate uses, so the
  // signature can never silently cover a subset if the feature set grows
  private val modelCols: Seq[String] =
    "c_pos" +: "c_neg" +: Classifier.featColNames.flatMap(f =>
      Seq(s"sp_$f", s"sn_$f"))

  /** FNV-1a over the ordered model cells — stable across JVMs (pure
    * Long arithmetic over decimal string renderings). */
  def signature(cells: Seq[Long]): Long =
    IndexLifecycle.fnv1a(cells.map(_.toString), '|')

  private def cellsOf(r: Row): Seq[Long] =
    modelCols.map(c => r.getAs[Long](c))

  /** Train the centroid model on `docs` under the quality teacher at
    * `thresholdPermille` (q37's blend ≥ threshold) and persist it. */
  def build(docs: DataFrame, dir: String,
      thresholdPermille: Long = 500L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    lifecycle.build(spark, dir) { out =>
      val feats = Classifier.withFeatures(docs).withColumn("label",
        Classifier.qualityTeacher(thresholdPermille.toDouble / 1000.0)
          .cast("int"))
      val model = Classifier.centroidsOf(feats).localCheckpoint(true)
      out.parquet("model", model)
      out.parquet("params", Seq((thresholdPermille, signature(cellsOf(
        model.head())))).toDF("threshold_permille", "sig"))
    }
  }

  private val lifecycle = new IndexLifecycle("classifier index",
    Seq("model", "params"))

  /** The params row, the stored model rows, and the model's one check
    * list — what [[score]] and [[scorer]] throw on, [[adoptManifest]]
    * runs, [[healthCheck]] renders and [[IndexHealth]] folds:
    *
    *  - `one_row` — exactly one model row (a second row is an
    *    interleaved rebuild; none is a half-deleted index, a health STATE
    *    to report, not a crash);
    *  - `sig` — the row hashes to params' content signature (torn write
    *    or interleaved rebuild that shares the threshold). */
  private final case class Stored(params: Row, rows: Array[Row],
      checks: Seq[Check]) extends Inspected

  private def inspect(spark: SparkSession, dir: String): Stored = {
    val p = lifecycle.params(spark, dir)
    val rows =
      try spark.read.parquet(s"$dir/model").collect()
      catch { case _: AnalysisException => Array.empty[Row] }
    val oneRow = rows.length == 1
    Stored(p, rows, Seq(
      Check("one_row", oneRow, Some(rows.length.toLong),
        s"classifier index at '$dir' is torn: ${rows.length} model rows"),
      Check("sig",
        oneRow && signature(cellsOf(rows.head)) == p.getAs[Long]("sig"),
        None, s"classifier index at '$dir' failed its content signature — " +
          "torn write or interleaved rebuild; rebuild the index")))
  }

  /** Adopt a PRE-MANIFEST classifier index (stamp + manifest, no
    * rebuild) — [[DedupIndex.adoptManifest]]'s contract. This lifecycle
    * has a FULL content check that needs no manifest (the 1-row model
    * vs the params signature): adoption runs the check list the load
    * paths throw on ([[inspect]]) before blessing the table set. */
  def adoptManifest(spark: SparkSession, dir: String): Unit =
    lifecycle.adopt(spark, dir, inspect(spark, dir).checks)

  private def loadValidated(spark: SparkSession, dir: String): DataFrame = {
    val s = lifecycle.enforce(spark, dir, inspect(spark, dir))
    // Rebuild the frame from the already-validated collected row: a
    // lazily-read model would re-read the parquet at execution time, so
    // an interleaved rebuild between validation and execution could
    // score under an UNVALIDATED model. The scored model must be
    // byte-identical to the one whose signature passed.
    spark.createDataFrame(java.util.Arrays.asList(s.rows: _*),
      s.rows.head.schema)
  }

  /** Classify a batch under the STORED model — (doc_id, pred), identical
    * to the pred column [[Classifier.centroidGate]] would emit had it
    * been trained on the indexed snapshot. Pure read; the model row
    * broadcasts onto the batch scan. */
  def score(spark: SparkSession, dir: String, docs: DataFrame): DataFrame =
    classify(loadValidated(spark, dir))(docs)

  /** Classify STREAMING micro-batches under the stored model — the
    * quality gate at ingest ([[DsirIndex.scorer]]'s contract).
    * Classification is a pure per-row decision against a frozen 1-row
    * model (no aggregate, no join-back across rows), so the landed
    * stream is batch-split invariant by construction and a batch oracle
    * pins the streaming execution. LOAD-ONCE: the stored 1-row model
    * validates (params read + manifest verify + signature check)
    * EXACTLY once; every micro-batch then pays one tiny re-broadcast of
    * the frozen, already-validated row. The model is frozen for the
    * returned function's lifetime (the writer lease makes a racing
    * rebuild refuse). Per-batch output is row-identical to [[score]]. */
  def scorer(spark: SparkSession,
      dir: String): DataFrame => DataFrame =
    classify(loadValidated(spark, dir).localCheckpoint(true))

  private def classify(model: DataFrame)(docs: DataFrame): DataFrame =
    Classifier.withFeatures(docs)
      .crossJoin(broadcast(model))
      .withColumn("pred", Classifier.predExpr)
      .select(col("doc_id"), col("pred"))

  /** Operational report: params present, model-row count, signature
    * validity, class counts — the scheduled-job check ([[DedupIndex
    * .healthCheck]]'s contract: REPORTS where loaders throw), rendering
    * the check list the load paths throw on ([[inspect]]: `one_row`,
    * `sig_ok`) with the shared manifest/stamp rows and `healthy`. */
  def healthCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (s, h) = inspected(spark, dir)
    val (cPos, cNeg) =
      if (h("one_row"))
        (s.rows.head.getAs[Long]("c_pos"), s.rows.head.getAs[Long]("c_neg"))
      else (-1L, -1L)
    Seq((s.params.getAs[Long]("threshold_permille"), s.rows.length.toLong,
      h("one_row"), h("sig"), cPos, cNeg, h("manifest"),
      h.stale.mkString(","), h("healthy")))
      .toDF("threshold_permille", "model_rows", "one_row", "sig_ok",
        "c_pos", "c_neg", "has_manifest", "stale_tables", "healthy")
  }

  /** [[IndexHealth]]'s rows: [[healthCheck]]'s checks as a list. */
  private[llm] def health(spark: SparkSession, dir: String): Health =
    inspected(spark, dir)._2

  private def inspected(spark: SparkSession, dir: String): (Stored, Health) = {
    val s = inspect(spark, dir)
    (s, lifecycle.health(spark, dir, s.checks,
      Some(s.params.getAs[Long]("threshold_permille"))))
  }
}
