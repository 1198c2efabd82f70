package graftbench

import scala.collection.mutable

import graft.llm.{DedupOps, Retrieval, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Registry query q211's curation chain, called the way a library user
 * calls it (public operators, a narrow scan, each stage checkpointed):
 * Gopher gate -> extent dedup -> verified winnow scrub against the
 * benchmark slice -> DSIR selection -> per-language report. The cost is
 * driver-bound job chains, not data volume. The warm call runs the
 * chain once on the measured corpus; `--seconds` / 6 s timed chains
 * follow and must reproduce the warm call's output.
 */
final class CurationBench extends Workload {

  private val nDocs = 400
  private val injections = 6
  private val reportReps = 20
  // nominal time of one timed chain on an idle 4-core machine
  private val chainS = 6.0
  private val stages = Seq("gate", "extent", "scrub", "dsir", "report")

  private var corpus: Gen.Corpus = _

  private final case class Out(rew: DataFrame, scrubbed: DataFrame, sel: DataFrame,
      fin: DataFrame, report: Array[Row], stageMs: Seq[Double])

  /** The warm call's output: the same chain on the same corpus, which the
    * measured chains must reproduce. */
  private var first: Out = _

  def prepare(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    corpus = Gen.corpus(c.args.seed, nDocs, injections)
    corpus.docs.toDS().coalesce(1).write.parquet(c.dir("docs").getPath)
    c.layer("gen.events") = nDocs.toDouble
  }

  private def chain(c: Ctx, docsPath: String, label: String): Out = {
    val docs = c.spark.read.parquet(docsPath)
    val ms = mutable.ArrayBuffer.empty[Double]
    def stage[T](name: String)(f: => T): T = {
      val (r, t) = Util.timed(c.span(s"$label $name", "llm")(f))
      ms += t
      r
    }
    val gated = stage("gate") {
      TextAnalysis.gopherFilter(docs, minWords = 30L, maxWords = 100000L,
        requiredWords = Seq("the", "a", "and", "of", "to"), minRequiredHits = 2,
        tok = DedupOps.Tokenizer.Unicode).localCheckpoint(true)
    }
    val rew = stage("extent") {
      DedupOps.spanExtentDedupApply(gated, width = 8)
        .select(col("doc_id"), col("text_clean").as("text")).localCheckpoint(true)
    }
    val bench = docs.filter(col("doc_id") % 41 === 3).select(col("doc_id"), col("text"))
    val scrubbed = stage("scrub") {
      DedupOps.winnowScrubVerified(rew.filter(col("doc_id") % 41 =!= 3), bench,
        n = 3, w = 4, minShared = 2L, tok = DedupOps.Tokenizer.UnicodeAligned)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
    }
    val sel = stage("dsir") {
      Retrieval.dsirSelect(scrubbed, docs.filter(col("doc_id") % 4 === 0),
        buckets = 1024, keepPermille = 500L, tok = DedupOps.Tokenizer.Unicode)
        .select(col("doc_id")).localCheckpoint(true)
    }
    val fin = scrubbed.join(sel, "doc_id").join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val report = stage("report") {
      TextAnalysis.corpusReport(fin, "lang").orderBy("lang").collect()
    }
    Out(rew, scrubbed, sel, fin, report, ms.toSeq)
  }

  def warm(c: Ctx): Unit = first = chain(c, c.dir("docs").getPath, "warm")

  def measure(c: Ctx): Unit = {
    val outs = mutable.ArrayBuffer.empty[Out]
    val walls = mutable.ArrayBuffer.empty[Double]
    (0 until Util.reps(c.args.seconds, chainS, 2)).foreach { rep =>
      c.op(s"curation chain $rep") {
        val (o, t) = Util.timed(c.span(s"chain $rep", "bench")(chain(c, c.dir("docs").getPath, s"chain $rep")))
        c.attempted += o.stageMs.length
        outs += o
        walls += t
      }
    }
    c.info("chain_s") = walls.map(_ / 1000.0)
    if (outs.isEmpty) return
    val med = Util.median(walls)
    c.e2e("wall_s") = med / 1000.0
    c.e2e("events_per_s") = nDocs / (med / 1000.0)
    // per chain, its median and its slowest stage call, then the median
    // over chains: a run holds 10-20 stage calls, too few for a tail
    // percentile with ten samples beyond it, and pooling them made both
    // figures jump with the number of chains that fit in the run
    c.e2e("lat_p50_ms") = Util.median(outs.map(o => Util.median(o.stageMs)))
    c.e2e("lat_tail_ms") = Util.median(outs.map(_.stageMs.max))
    c.info("lat_tail") = Map("basis" -> "slowest stage call of a chain, median over chains",
      "chains" -> outs.length)
    c.info("stage_ms_median") = stages.indices.map(k => stages(k) -> Util.median(outs.map(_.stageMs(k)).toSeq)).toMap
    // closed-loop report query over the curated selection, materialised once
    val fin = outs.last.fin.localCheckpoint(true)
    val qms = (0 until reportReps).flatMap { k =>
      c.op(s"report query $k") {
        Util.timed(c.span("report query", "llm")(TextAnalysis.corpusReport(fin, "lang").collect()))._2
      }
    }
    if (qms.nonEmpty) c.e2e("query_ms") = Util.median(qms)
    checks(c, outs.toSeq)
  }

  private def rowsOf(df: DataFrame): Map[Long, String] =
    df.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap

  private def norm(w: String): String = w.toLowerCase.filter(_.isLetterOrDigit)

  /** The first run of `k` consecutive words of `span` that `text` holds. */
  private def heldRun(text: String, span: Seq[String], k: Int): Option[Seq[String]] = {
    val ws = text.split(" ").filter(_.nonEmpty).map(norm).toSeq
    span.map(norm).sliding(k).find(run => ws.containsSlice(run))
  }

  private def holdsRun(text: String, span: Seq[String], k: Int): Boolean =
    heldRun(text, span, k).isDefined

  private def checks(c: Ctx, outs: Seq[Out]): Unit = {
    val o = outs.head
    val rew = rowsOf(o.rew)
    val scrubbed = rowsOf(o.scrubbed)
    val selected = o.sel.collect().map(_.getLong(0)).toSet
    c.check("injected repeated spans cut") {
      corpus.spans.forall { s =>
        val text = s.words.mkString(" ")
        rew.get(s.hosts.head).exists(_.contains(text)) &&
          s.hosts.tail.forall(h => rew.get(h).exists(t => !holdsRun(t, s.words, 8)))
      }
    }
    c.check("injected exact duplicates emptied") {
      corpus.dupPairs.forall { case (src, dst) =>
        rew.get(src).exists(_.nonEmpty) && rew.get(dst).contains("")
      }
    }
    // a leak is cut when no n + 2w - 1 = 10 consecutive words of it
    // survive: two disjoint winnow windows inside a shared run force two
    // shared prints, which the verified scrub's fixpoint rules out. Shorter
    // runs can re-form by splicing (a lone interior "a" next to the
    // edge remnant "to torka itur" reads "a to torka itur")
    val survivors = corpus.leaks.flatMap(l =>
      scrubbed.get(l.host).flatMap(heldRun(_, l.words, 10)).map(r => s"doc ${l.host}: ${r.mkString(" ")}"))
    c.check(s"injected leaks scrubbed${survivors.mkString(" (", "; ", ")")}") { survivors.isEmpty }
    c.check("leaks were present before the scrub") {
      corpus.leaks.forall(l => rew.get(l.host).exists(t => holdsRun(t, l.words, 8)))
    }
    c.check("report totals equal the selected set") {
      val docs = o.report.map(_.getAs[Long]("n_docs")).sum
      val tokens = o.report.map(_.getAs[Long]("n_tokens")).sum
      val expTokens = selected.toSeq.map(id => scrubbed(id).split(" ").count(_.nonEmpty).toLong).sum
      docs == selected.size && tokens == expTokens && selected.subsetOf(scrubbed.keySet)
    }
    c.check("same seed, same output") {
      outs.forall(x => x.report.toSeq == first.report.toSeq) && rowsOf(first.scrubbed) == scrubbed
    }
  }

  def layersRun: Seq[String] = Seq("spark", "gen", "llm")

  override def layers(c: Ctx): Unit = {
    val t = c.tracer.get
    val own = t.ownSpans
    val all = t.allSpans()
    // stage spans of the first measured chain
    stages.foreach { s =>
      own.find(_.name == s"chain 0 $s").foreach { sp =>
        val jobs = all.filter(j => j.layer == "spark.job" && j.parent == sp.id)
        c.layer(s"llm.${s}_s") = (sp.end - sp.start) / 1000.0
        c.layer(s"llm.${s}_jobs") = jobs.length.toDouble
        // each fixpoint round of the verified scrub ends with one
        // emptiness probe of the still-active documents
        if (s == "scrub") c.layer("llm.scrub_rounds") =
          jobs.count(_.name.contains("isEmpty at DedupOps")).toDouble
      }
    }
  }

  override def scales: Boolean = true

  override def scaleUnit(c: Ctx, cores: Int): Option[Double] =
    c.op(s"scaling chain on $cores cores") {
      1000.0 / Util.timed(chain(c, c.dir("docs").getPath, s"scale $cores"))._2
    }
}
