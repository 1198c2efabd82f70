package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scaling-curve measurement tooling (round 20, SCALE.md's growth-law
 * section): the sandbox's largest real dataset is sf0.1 (17 MB), so the
 * superlinearity adjudications were extrapolated from synthetic blowups.
 * [[ScaleGen]] makes the growth law DATA: documents/embeddings at a
 * multiple of sf0.1's volume with the same distributional shape (same
 * closed word vocabulary — harvested from the real corpus — same
 * word-count range, language weights, 20 sources, the same ~1/625
 * planted exact-dup rate; embeddings as 10 labeled clusters in the same
 * value range), everything a pure function of the row id via
 * splitmix64, so re-generation is deterministic. A scoped [[Bench]] run
 * (`SPARK_GRAFT_ONLY`, `SPARK_GRAFT_SF_DIR`) times queries at a generated
 * dir without touching the bench artifacts. SCALE.md records the fitted
 * exponents.
 */
object ScaleLab {

  /** splitmix64 — the standard public-domain mixing constant sequence. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n) from (seed, salt). */
  def rnd(seed: Long, salt: Long, n: Int): Int =
    (Math.floorMod(mix(seed * 0x100000001b3L + salt), n.toLong)).toInt

  def genDocuments(spark: SparkSession, vocab: Array[String], nDocs: Long,
      seed: Long): DataFrame = {
    import spark.implicits._
    val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
      "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")
    val v = vocab
    spark.range(nDocs).as[Long].mapPartitions(_.map { d =>
      def text(id: Long): String = {
        val n = 15 + rnd(seed + id, 1L, 71)
        (0 until n).map(i => v(rnd(seed + id, 100L + i, v.length)))
          .mkString(" ")
      }
      // ~1/625 exact-dup rate (sf0.1 has 8 dup pairs in 5000 docs)
      val t = if (d % 625 == 624) text(d - 1) else text(d)
      (d, t, langs(rnd(seed + d, 2L, langs.length)),
        "src" + (d % 20), t.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def genEmbeddings(spark: SparkSession, nVecs: Long, dim: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(nVecs).as[Long].mapPartitions(_.map { vId =>
      val label = rnd(seed + vId, 3L, 10)
      val emb = Array.tabulate(dim) { j =>
        val centroid = (rnd(seed, 1000L + label * 64 + j, 800) - 400) / 1000.0f
        val noise = (rnd(seed + vId, 2000L + j, 300) - 150) / 1000.0f
        centroid + noise
      }
      (vId, emb, label)
    }).toDF("vec_id", "embedding", "label")
  }
}

/** `runMain graft.ScaleGen <outDir> <mult>` — write a scaled synthetic
  * sf dir: documents/embeddings at `mult` × sf0.1's row counts, the
  * other tables copied from sf0.1 (the curve queries never scan them;
  * they exist so any registry query can run). */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(outDir, multS) = args
    val mult = multS.toDouble
    val spark = Bench.session()
    val src = "/root/testdata/sf0.1"
    val vocab = graft.model.Tables.documents(spark, src)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .orderBy("w").collect().map(_.getString(0))
    ScaleLab.genDocuments(spark, vocab, (5000 * mult).toLong, seed = 42L)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    ScaleLab.genEmbeddings(spark, (2000 * mult).toLong, 64, seed = 43L)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    println(s"""{"gen":"$outDir","mult":$mult}""")
    spark.stop()
  }
}
