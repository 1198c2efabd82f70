package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/**
 * Embedding maintenance operators for training-data pipelines:
 * unit-normalization and int8 quantization (the storage/compute
 * compression step before ANN indexing — 4x smaller than float32).
 *
 * Determinism: the scale factor is a per-row array max (order-free);
 * quantized values use explicit floor(x + 0.5) rounding so DuckDB's
 * arithmetic is bit-identical (no dependence on either engine's
 * round-half convention); norms are in-order folds (TextFunctions).
 * Everything is per-row scan-stage compute — no shuffle.
 */
object EmbeddingOps {

  /** Max |x_i| of a float-array column, in double (order-independent). */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization of one element given the scale. */
  private def quantize(x: Column, scale: Column): Column =
    floor(x.cast("double") * lit(127.0) / scale + lit(0.5)).cast("int")

  /**
   * Quantize embeddings to int8 with a per-vector symmetric scale:
   * q_i = floor(x_i * 127 / max|x| + 0.5). Adds the scale (for
   * dequantization) and the quantized array.
   */
  def quantized(embeddings: DataFrame): DataFrame = {
    val scale = maxAbs(col("embedding"))
    embeddings
      .withColumn("q_scale", scale)
      .withColumn("q_embedding",
        transform(col("embedding"), x => quantize(x, col("q_scale"))))
  }

  /** Unit-normalized copy of the embedding (double elements), using the
    * in-order-fold norm so downstream cosines stay oracle-exact. */
  def normalized(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("norm", sqrt(normSq(col("embedding"))))
      .withColumn("embedding_unit",
        transform(col("embedding"), x => x.cast("double") / col("norm")))

  /**
   * Per-group quota capping: keep at most `cap` rows per group, by a
   * deterministic ordering — the "at most K documents per domain"
   * curation rule. One shuffle on the group key; rank state O(1).
   */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      cap: Int): DataFrame =
    Ranking.within(df, groupCol, Seq(col(orderCol)), cap, rank = "__rn")
      .drop("__rn")

  /**
   * Exact integer covariance sufficient statistics of the embedding
   * column — the decorrelation front of a whitening/PCA stage. Each
   * component is fixed-point quantized (`q_i = floor(x_i·scale + 0.5)`,
   * double arithmetic — exact and engine-portable, q51's rounding), then
   * ONE map-side-combinable [[graft.functions.CovStatsAggregator]] pass
   * folds the corpus into `1 + d + d(d+1)/2` longs; the packed buffer
   * joins a broadcast (i, j, k) index table (d(d+1)/2 rows built on the
   * driver — a constant, not data) to unpack into one row per upper-
   * triangle cell:
   *
   *   (i, j, n, s_i, s_j, sxy, cov_num)  with  cov_num = n·sxy − s_i·s_j
   *
   * — n² times the covariance in quantized units, all BIGINT. Consumers
   * divide by n² (and scale²) only at the edge, or feed the integers
   * straight to [[principalDirection]].
   *
   * Scale shape: the shuffle carries one ~17 KB partial buffer per task,
   * never a vector; the unpack is a 1-row × d(d+1)/2 broadcast join. At
   * 100 TB this is the ONLY covariance plan that works — any
   * explode-and-self-join form shuffles d²·N rows.
   */
  def covarianceStats(embeddings: DataFrame, d: Int,
      scale: Long = 10000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val quant = embeddings.select(
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(scale.toDouble) + lit(0.5))
          .cast("long")).as("q"))
      .as[Seq[Long]]
    val agged = quant
      .select(new graft.functions.CovStatsAggregator.CovStats(d).toColumn)
      .toDF().select(col("cells"))
    val idx = (for { i <- 0 until d; j <- i until d } yield (i, j))
      .zipWithIndex.map { case ((i, j), k) => (i, j, k) }
    val idxDf = spark.createDataFrame(idx).toDF("i", "j", "k")
    agged.crossJoin(broadcast(idxDf))
      .select(
        col("i").cast("long").as("i"),
        col("j").cast("long").as("j"),
        element_at(col("cells"), 1).as("n"),
        element_at(col("cells"), col("i") + 2).as("s_i"),
        element_at(col("cells"), col("j") + 2).as("s_j"),
        element_at(col("cells"), col("k") + lit(2 + d)).as("sxy"))
      .withColumn("cov_num",
        col("n") * col("sxy") - col("s_i") * col("s_j"))
  }

  /**
   * Leading eigenvector of the covariance matrix by driver-side power
   * iteration over [[covarianceStats]]'s d(d+1)/2 sufficient-statistic
   * rows — the collect-the-model pattern (BPE merges, IVF centroids):
   * the driver reads ~2 000 aggregated numbers, never the corpus.
   *
   * Deterministic by construction: fixed start (uniform 1/√d), a FIXED
   * iteration count (no float-threshold convergence test), and a sign
   * convention (first component of largest magnitude made positive) — a
   * single JVM's IEEE arithmetic, reproducible across runs. Not part of
   * the DuckDB-oracle surface (eigenvectors aren't SQL-replayable);
   * certified by spec against a planted dominant axis.
   */
  def principalDirection(stats: DataFrame, d: Int,
      iters: Int = 64): Array[Double] = {
    val rows = stats.select("i", "j", "n", "cov_num").collect()
    require(rows.nonEmpty, "empty covariance stats")
    val n = rows.head.getLong(2).toDouble
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      val c = r.getLong(3).toDouble / (n * n)
      cov(i)(j) = c
      cov(j)(i) = c
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      val norm = math.sqrt(w.map(x => x * x).sum)
      v = if (norm == 0.0) v else w.map(_ / norm)
      it += 1
    }
    val lead = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(lead) < 0.0) v.map(x => -x) else v
  }

  /** Projection of each embedding onto a broadcast direction — the rank-1
    * PCA reduce. In-order fold (TextFunctions' dot discipline), scan-
    * stage, no shuffle. */
  def projectedOnto(embeddings: DataFrame, dir: Array[Double]): DataFrame = {
    val dirCol = array(dir.map(lit): _*)
    embeddings.withColumn("proj",
      aggregate(zip_with(col("embedding"), dirCol,
        (x, w) => x.cast("double") * w),
        lit(0.0), (a, x) => a + x))
  }
}
