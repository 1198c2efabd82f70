package graftbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.util.{SplittableRandom, UUID}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Seeded input generator. Every event and document is a pure function
 * of (seed, index), so the same seed gives the same inputs whatever the
 * partitioning, and the ground truth is known without asking the
 * program under test.
 *
 * Events follow the reference load test (UUID ids, about 20 names,
 * 11-37 UUID prop pairs, topics from a 7-name pool) with known shares of
 * at-least-once replays (same id and content, re-sent up to `maxLag`
 * events later), invalid events (empty id, name or topic, or a zero
 * timestamp) and, for the produce workload, oversize events. The shares
 * are chosen values: no source gives a rate. Event time advances
 * `stepMs` = 1 ms per event, the live feed's offered rate of 1,000
 * events/s, with up to `jitterMs` of client clock disorder; replays keep
 * their original time. The worst lateness is maxLag*stepMs + jitterMs,
 * about 2 s, inside the 10-minute watermark, so no event is dropped as
 * late, the landed set is exact and the dedup state holds every id of a
 * run.
 */
object Gen {

  val Names: Array[String] = Array("login", "logout", "purchase", "level_up",
    "level_fail", "match_start", "match_end", "ad_view", "ad_click",
    "tutorial_step", "session_start", "session_end", "item_equip",
    "item_sell", "friend_add", "chat_send", "quest_accept", "quest_done",
    "store_open", "crash_report")
  val Topics: Array[String] = Array.tabulate(7)(k => s"games-$k")

  final val Primary = 0
  final val Replay = 1
  final val Invalid = 2
  final val Oversize = 3

  /** Event-stream shape. Shares are per mille of all events. */
  final case class EvCfg(seed: Long, n: Long, perFile: Int,
      invalidPm: Int = 20, replayPm: Int = 50, oversizeEvery: Long = 0L,
      maxLag: Int = 60, stepMs: Long = 1L, jitterMs: Long = 2000L) {
    /** Event time of index 0: 3 s before midnight UTC on a seed-chosen
      * day of 2024, so every feed of more than 3,000 events straddles a
      * date boundary. */
    val startMs: Long = 1704153600000L - 3000L + Math.floorMod(seed, 300L) * 86400000L
    def nFiles: Int = (n / perFile).toInt
    require(n % perFile == 0, "events must fill whole files")
    require(maxLag * stepMs + jitterMs < 600000L, "disorder must stay inside the watermark")
  }

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def uuid(r: SplittableRandom): String =
    new UUID((r.nextLong() & ~0xF000L) | 0x4000L,
      (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | 0x8000000000000000L).toString

  private def ownKind(c: EvCfg, i: Long): Int = {
    val u = new SplittableRandom(mix(c.seed, i)).nextInt(1000)
    if (u < c.invalidPm) Invalid
    else if (c.oversizeEvery > 0 && i % c.oversizeEvery == c.oversizeEvery - 1) Oversize
    else if (u < c.invalidPm + c.replayPm) Replay
    else Primary
  }

  /** Index whose content event `i` carries: a replay re-sends an earlier
    * primary event; everything else carries its own. */
  private def source(c: EvCfg, i: Long): Long =
    if (ownKind(c, i) != Replay) i
    else {
      val j = i - 1 - new SplittableRandom(mix(c.seed ^ 0x5EEDL, i)).nextInt(c.maxLag)
      if (j >= 0 && ownKind(c, j) == Primary) j else i
    }

  final case class Ev(idx: Long, kind: Int, id: String, name: String,
      topic: String, props: Map[String, String], ts: Long) {
    def valid: Boolean = kind != Invalid
    /** Counts toward the landed table: the first copy of a valid event. */
    def landed: Boolean = kind == Primary
    def envelope(serverTs: Long): WireCodec.Envelope =
      WireCodec.Envelope(id, name, props, serverTs, ts)
  }

  /** Event `i`; `withProps = false` skips the props, for ground truth
    * that does not need them. */
  def event(c: EvCfg, i: Long, withProps: Boolean = true): Ev = {
    val src = source(c, i)
    val own = ownKind(c, i)
    val kind = if (own == Replay && src == i) Primary else own
    val r = new SplittableRandom(mix(c.seed ^ 0xC0FFEEL, src))
    val id = uuid(r)
    val name = Names(r.nextInt(Names.length))
    val topic = Topics(r.nextInt(Topics.length))
    val ts = c.startMs + src * c.stepMs + r.nextLong(c.jitterMs)
    val np = 11 + r.nextInt(27)
    val props = if (!withProps) Map.empty[String, String]
      else Map((0 until np).map(_ => uuid(r) -> uuid(r)): _*)
    val e = Ev(i, kind, id, name, topic, props, ts)
    kind match {
      case Invalid => (i % 4) match {
        case 0 => e.copy(id = "")
        case 1 => e.copy(name = "")
        case 2 => e.copy(topic = "")
        case _ => e.copy(ts = 0L)
      }
      case Oversize => e.copy(props = props + ("blob" -> ("x" * 1000100)))
      case _ => e
    }
  }

  /** Server timestamp the feed's producer stamped on an event. */
  def serverTs(e: Ev): Long = e.ts + 50L

  def ymd(ts: Long): (String, String, String) = {
    val d = Instant.ofEpochMilli(ts).atZone(ZoneOffset.UTC).toLocalDate
    (f"${d.getYear}%04d", f"${d.getMonthValue}%02d", f"${d.getDayOfMonth}%02d")
  }

  // ---------------------------------------------------------------- feed

  /** One feed record, as a Kafka consumer would see it: the routing topic
    * and the single-record Avro datum. */
  final case class FeedRow(topic: String, value: Array[Byte])

  /** Ground truth of one feed. */
  final case class FeedTruth(events: Long, invalid: Long, replays: Long,
      landed: Long, idHash: Long, perDay: Map[(String, String, String, String), Long])

  /**
   * Write the feed as `nFiles` parquet files of `perFile` events each,
   * named f000000.parquet, ... into `outDir` (one generator task per
   * file, so file k holds events [k*perFile, (k+1)*perFile)).
   */
  def writeFeed(spark: SparkSession, c: EvCfg, outDir: File, staging: File): Seq[File] = {
    import spark.implicits._
    val cc = c
    spark.range(0L, c.n, 1L, c.nFiles).map { i =>
      val e = event(cc, i)
      FeedRow(e.topic, WireCodec.encode(e.envelope(serverTs(e))))
    }.write.parquet(staging.getPath)
    val parts = Util.filesUnder(staging, n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == c.nFiles, s"feed: ${parts.length} part files for ${c.nFiles} feed files")
    outDir.mkdirs()
    val files = parts.zipWithIndex.map { case (p, k) =>
      val f = new File(outDir, f"f$k%06d.parquet")
      require(p.renameTo(f), s"feed: cannot move $p")
      f
    }
    Util.deleteTree(staging)
    files
  }

  /** Ground truth of a feed, computed on the driver from the same
    * per-index events the feed files hold. */
  def feedTruth(c: EvCfg): FeedTruth = {
    var inv, rep, land, h = 0L
    val per = mutable.HashMap.empty[(String, String, String, String), Long]
    var i = 0L
    while (i < c.n) {
      val e = event(c, i, withProps = false)
      if (e.kind == Invalid) inv += 1
      if (e.kind == Replay) rep += 1
      if (e.kind == Primary) {
        land += 1
        h += Util.hash64(e.id)
        val (y, m, d) = ymd(e.ts)
        per((y, m, d, e.name)) = per.getOrElse((y, m, d, e.name), 0L) + 1
      }
      i += 1
    }
    FeedTruth(c.n, inv, rep, land, h, per.toMap)
  }

  // ------------------------------------------------------ produce input

  /** An envelope as accepted at the ingest edge (model.IncomingEvent). */
  final case class Incoming(id: String, name: String, topic: String,
      props: Map[String, String], clientTimestamp: Long)

  final case class ProduceTruth(events: Long, invalid: Long, oversize: Long,
      admitted: Long, frameHash: Long)

  /** Canonical text of one produced Kafka record (topic, key, envelope). */
  def frameCanonical(kafkaTopic: String, key: String, e: WireCodec.Envelope): String =
    kafkaTopic + "|" + key + "|" + e.canonical

  /** Route directory of a topic: one input queue per topic, and one
    * ("none") for events that name no topic. */
  def route(topic: String): String = if (topic.isEmpty) "none" else topic

  /** Write the envelopes under `path/route=<route>/`, one directory per
    * topic as a server receives them. */
  def writeIncoming(spark: SparkSession, c: EvCfg, path: String, parts: Int): Unit = {
    import spark.implicits._
    val cc = c
    spark.range(0L, c.n, 1L, parts).map { i =>
      val e = event(cc, i)
      (Incoming(e.id, e.name, e.topic, e.props, e.ts), route(e.topic))
    }.select($"_1.*", $"_2".as("route")).write.partitionBy("route").parquet(path)
  }

  def produceTruth(spark: SparkSession, c: EvCfg, serverTsMs: Long): ProduceTruth = {
    import spark.implicits._
    val cc = c
    val rows = spark.range(0L, c.n, 1L, 8).mapPartitions { it =>
      var inv, over, adm, h = 0L
      it.foreach { i =>
        val e = event(cc, i)
        e.kind match {
          case Invalid => inv += 1
          case Oversize => over += 1
          case _ =>
            adm += 1
            h += Util.hash64(frameCanonical("sv-uploads-" + e.topic, e.id,
              e.envelope(serverTsMs)))
        }
      }
      Iterator((inv, over, adm, h))
    }.collect()
    ProduceTruth(c.n, rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum,
      rows.map(_._4).sum)
  }

  // ----------------------------------------------------------- documents

  final case class Doc(doc_id: Long, text: String, lang: String)

  /** A span of words injected into several documents; the copy in the
    * lowest doc_id is the one extent dedup keeps. */
  final case class Span(words: Seq[String], hosts: Seq[Long])

  /** A benchmark-slice leak: `words` of benchmark document `bench`
    * (possibly case/punctuation-altered) pasted into `host`. */
  final case class Leak(host: Long, bench: Long, words: Seq[String], variant: Boolean)

  final case class Corpus(docs: Seq[Doc], dupPairs: Seq[(Long, Long)],
      spans: Seq[Span], leaks: Seq[Leak])

  /** doc_id % 41 == 3 is the benchmark slice and doc_id % 4 == 0 the
    * DSIR target slice, as in registry query q211. */
  def isBench(id: Long): Boolean = id % 41 == 3

  private lazy val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ren", "sta", "tor", "vel", "dun", "pri",
      "gal", "os", "en", "ur", "it", "ba", "ce", "mor", "ni", "que", "sal",
      "tin", "ar", "bo", "ly", "fen", "gra", "hu", "jo", "ker", "ma")
    val r = new SplittableRandom(99L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 1500) {
      val w = (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
      if (w.length >= 3 && w.length <= 9) seen += w
    }
    seen.toArray
  }
  private val stop = Array("the", "a", "and", "of", "to")
  private val langs = Array("en", "de", "fr", "es", "zh")

  def corpus(seed: Long, n: Int, injections: Int): Corpus = {
    val r = new SplittableRandom(mix(seed, 77L))
    def word(): String =
      if (r.nextInt(100) < 18) stop(r.nextInt(stop.length)) else vocab(r.nextInt(vocab.length))
    def words(k: Int): Vector[String] = Vector.fill(k)(word())
    // about 5% of documents are too short for the quality gate
    val short = Array.fill(n)(r.nextInt(100) < 5)
    val texts = Array.tabulate(n)(i => if (short(i)) words(10 + r.nextInt(15)) else words(40 + r.nextInt(160)))
    val lang = Array.fill(n)(langs(r.nextInt(langs.length)))
    // hosts: gate-passing, non-benchmark documents, each used once
    val pool = mutable.ArrayBuffer.from((0 until n).filter(i => !short(i) && !isBench(i)))
    def take(pred: Int => Boolean = _ => true): Int = {
      val cands = pool.indices.filter(k => pred(pool(k)))
      require(cands.nonEmpty, "corpus too small for its injections")
      pool.remove(cands(r.nextInt(cands.length)))
    }
    def insert(i: Int, ws: Seq[String]): Unit = {
      val at = r.nextInt(texts(i).length + 1)
      texts(i) = texts(i).take(at) ++ ws ++ texts(i).drop(at)
    }
    val spans = (0 until injections).map { _ =>
      val ws = words(16 + r.nextInt(9))
      val hosts = Seq.fill(3)(take()).sorted
      hosts.foreach(insert(_, ws))
      Span(ws, hosts.map(_.toLong))
    }
    val benchSrc = r.nextInt(1000)
    // leak sources leave room below them for their hosts
    val benchDocs = (0 until n).filter(i => isBench(i) && !short(i) && i >= 40)
    val leaks = (0 until injections.min(benchDocs.length)).map { k =>
      val b = benchDocs((benchSrc + k) % benchDocs.length)
      val len = 14 + r.nextInt(7)
      val off = r.nextInt(texts(b).length - len + 1)
      val raw = texts(b).slice(off, off + len)
      val variant = k % 3 == 2
      val ws = if (!variant) raw else raw.zipWithIndex.map { case (w, j) =>
        val t = w.capitalize
        if (j == len / 2) t + "," else t
      }
      val h = take(_ < b)
      insert(h, ws)
      Leak(h.toLong, b.toLong, raw, variant)
    }
    // whole-document copies between two otherwise untouched documents
    val dups = (0 until injections).map { _ =>
      val a = take()
      val b = take()
      val (src, dst) = (a.min(b), a.max(b))
      texts(dst) = texts(src)
      (src.toLong, dst.toLong)
    }
    Corpus((0 until n).map(i => Doc(i.toLong, texts(i).mkString(" "), lang(i))),
      dups, spans, leaks)
  }
}
