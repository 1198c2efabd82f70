package graft

import graft.llm.TextFunctions._
import graft.model.Tables
import org.apache.spark.sql.functions._

/**
 * Proof that every custom Catalyst expression really participates in
 * codegen: Spark SILENTLY falls back to interpreted eval when generated
 * Java fails to compile, so a doGenCode bug costs 10-100× on the hot
 * paths without failing anything. This suite runs each native function
 * under CODEGEN_ONLY with fallback disabled — a broken doGenCode throws
 * instead of degrading.
 */
class CodegenSpec extends SparkSpec {

  private lazy val s2 = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
  private lazy val docs = Tables.documents(s2, sfDir)
  private lazy val embs = Tables.embeddings(s2, sfDir)

  // Each projection is collected: under count() column pruning drops the
  // projected expressions, and nothing would be generated at all.
  test("all native expressions compile under CODEGEN_ONLY (no fallback)") {
    assert(docs.select(
      polyHash(col("text")).as("ph"),
      polyHashMod(col("text"), graft.functions.LlmExprs.P48).as("ph48"),
      deflateLen(col("text")).as("dl"),
      shingleHashes(col("text")).as("sh"),
      minhashSig(shingleHashes(col("text")), 32).as("mh"),
      simhashOfHashes(shingleHashList(col("text"), 3, P), 32).as("simh"),
      org.apache.spark.sql.GraftColumnBridge.ofExpr(graft.functions.WinnowEncExpr(
        org.apache.spark.sql.GraftColumnBridge.exprOf(shingleHashList(col("text"), 3, P)),
        4, P)).as("wenc"),
      org.apache.spark.sql.GraftColumnBridge.ofExpr(graft.functions.WinnowValuesExpr(
        org.apache.spark.sql.GraftColumnBridge.exprOf(shingleHashList(col("text"), 3, P)),
        4)).as("wvals"),
      org.apache.spark.sql.GraftColumnBridge.ofExpr(graft.functions.BpeCountExpr(
        org.apache.spark.sql.GraftColumnBridge.exprOf(coalesce(col("text"), lit(""))),
        Seq(("a", "b"), ("ab", "c")))).as("bpec"),
      org.apache.spark.sql.GraftColumnBridge.ofExpr(graft.functions.BpeTokensExpr(
        org.apache.spark.sql.GraftColumnBridge.exprOf(coalesce(col("text"), lit(""))),
        Seq(("a", "b"), ("ab", "c")))).as("bpet"),
      graft.llm.UnigramLm.tokenCount(col("text"),
        new graft.functions.UnigramCodec(Array("a", "b", "ab"),
          Array(1L, 1L, 1L), 6, 3, 5L)).as("ugc"),
      graft.llm.UnigramLm.tokens(col("text"),
        new graft.functions.UnigramCodec(Array("a", "b", "ab"),
          Array(1L, 1L, 1L), 6, 3, 5L)).as("ugt"))
      .collect().nonEmpty)
    // every AvroField reader (string, map, long) over an encoded envelope
    val avro = graft.functions.AvroCodec.toAvro(col("doc_id").cast("string"),
      coalesce(col("source"), lit("")), map(lit("k"), coalesce(col("text"), lit(""))),
      col("doc_id").cast("long"), col("doc_id").cast("long"))
    assert(docs.select((0 until 5).map(i =>
      org.apache.spark.sql.GraftColumnBridge.ofExpr(graft.functions.AvroField(
        org.apache.spark.sql.GraftColumnBridge.exprOf(avro), i)).as(s"avro$i")): _*)
      .collect().nonEmpty)
    assert(embs.select(
      dotProduct(col("embedding"), col("embedding")).as("dot"),
      hyperplaneBucketAt(col("embedding"), 64, 6, 12).as("hb"))
      .collect().nonEmpty)
  }

  test("VecDotExpr codegen covers double and mixed element types") {
    val d = embs.select(col("embedding"),
      transform(col("embedding"), x => x.cast("double")).as("demb"))
    assert(d.select(
      dotProduct(col("demb"), col("demb")).as("dd"),
      dotProduct(col("embedding"), col("demb")).as("fd"))
      .collect().nonEmpty)
  }

  test("PrefixRank runs end-to-end under CODEGEN_ONLY (rank path stays in Tungsten)") {
    // the bucketed rank replaced an RDD zipWithIndex round-trip (q100) and
    // per-source windows (q89/q101); its whole pipeline — key expression,
    // bucket arithmetic, cell windows, offset join — must compile, or the
    // epoch-ordering scan degrades 10-100× silently
    import s2.implicits._
    val ranked = graft.ops.PrefixRank.keyedPrefix(
      docs.select(col("doc_id"), col("source"), col("text")),
      Seq("source"),
      polyHash(concat(lit("cg#"), coalesce(col("text"), lit("")))),
      P, col("doc_id"),
      sums = Seq((length(coalesce(col("text"), lit(""))).cast("long"), "cum_len")))
    assert(ranked.agg(sum(col("rnk") + col("cum_len"))).as[Long].head() > 0L)
  }

  test("NearestCellExpr compiles under CODEGEN_ONLY") {
    val cents = embs.filter(col("vec_id") < 8)
      .agg(array_sort(collect_list(struct(
        col("vec_id").cast("long").as("cell_id"),
        col("embedding").as("cvec")))).as("cents"))
    assert(embs.crossJoin(broadcast(cents))
      .select(nearestCellIdx(col("cents"), col("embedding")).as("cell"))
      .filter(col("cell") >= 0).count() > 0)
  }
}
