package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import graft.llm.DedupOps

/**
 * Streaming near-duplicate detection — DedupOps.simhashPairs's semantics
 * applied continuously: every arriving document is checked against all
 * previously seen documents within SimHash Hamming distance
 * `maxHamming`, the admission-time dedup gate a continuously-ingesting
 * curation pipeline runs (reject the near-dup before it lands).
 *
 * Shape mirrors the batch operator exactly: the 32-bit SimHash is a
 * per-row scan-stage expression, banded into 4 bytes; each (band, byte)
 * bucket is a `transformWithState` key holding the (doc_id, simhash)
 * list of its members. A new document joins 4 buckets and is verified
 * (bit_count of the XOR) against only same-bucket members — by the
 * pigeonhole argument any pair within Hamming 3 shares at least one
 * byte, so recall matches the batch operator; per-bucket state is the
 * operator's whole memory and `ttl` bounds it in time.
 *
 * A pair colliding in several bands is emitted once per band —
 * `distinct` downstream (the batch sink dedupes; StreamingSpec pins the
 * distinct set equal to DedupOps.simhashPairs on the same corpus,
 * across a two-micro-batch split).
 */
object StreamDedup {

  /** One row per (bucket, document): band_key packs (band, byte). */
  final case class BandRow(band_key: Long, doc_id: Long, simhash: Long)

  /** A bucket member remembered in state. */
  final case class Seen(doc_id: Long, simhash: Long)

  /** An emitted near-dup pair (id_a < id_b), per colliding band. */
  final case class DupPair(id_a: Long, id_b: Long, dist: Int)

  final class Processor(maxHamming: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, BandRow, DupPair] {
    @transient private var seen: ListState[Seen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[Seen]("seen", Encoders.product[Seen], ttl)

    override def handleInputRows(key: Long, rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[DupPair] = {
      val members = scala.collection.mutable.ArrayBuffer.empty[Seen]
      if (seen.exists()) seen.get().foreach(members += _)
      val byId = scala.collection.mutable.Map(members.map(s => s.doc_id -> s).toSeq: _*)
      val out = Vector.newBuilder[DupPair]
      var rewritten = false
      // doc_id order within the batch: pairs always emit (older, newer)
      for (r <- rows.toSeq.sortBy(_.doc_id)) {
        byId.get(r.doc_id) match {
          // An at-least-once replay (same doc_id, same content) is a
          // no-op: appending it again would duplicate ListState entries
          // and inflate every later O(bucket-size) verification pass.
          case Some(prev) if prev.simhash == r.simhash => ()
          // Same doc_id, CHANGED content, still routed to this bucket:
          // replace the stored fingerprint and re-verify against the
          // other members so near-dups of the UPDATED content are
          // emitted. (Bands where the old fingerprint no longer routes
          // keep their stale entry until TTL — see scaladoc.)
          case Some(_) =>
            val idx = members.indexWhere(_.doc_id == r.doc_id)
            members(idx) = Seen(r.doc_id, r.simhash)
            byId(r.doc_id) = members(idx)
            rewritten = true
            for (m <- members if m.doc_id != r.doc_id) {
              val dist = java.lang.Long.bitCount(m.simhash ^ r.simhash)
              if (dist <= maxHamming)
                out += DupPair(math.min(m.doc_id, r.doc_id),
                  math.max(m.doc_id, r.doc_id), dist)
            }
          case None =>
            for (m <- members) {
              val dist = java.lang.Long.bitCount(m.simhash ^ r.simhash)
              if (dist <= maxHamming)
                out += DupPair(math.min(m.doc_id, r.doc_id),
                  math.max(m.doc_id, r.doc_id), dist)
            }
            val s = Seen(r.doc_id, r.simhash)
            members += s
            byId(r.doc_id) = s
            if (!rewritten) seen.appendValue(s)
        }
      }
      // An in-place update invalidates the append-only history; rewrite
      // the whole bucket once (updates are rare, buckets are small).
      if (rewritten) seen.put(members.toArray)
      out.result().iterator
    }
  }

  /** Per-document band rows: 32-bit shingle SimHash split into 4 bytes,
    * band_key = band*256 + byte — DedupOps.simhashPairs's own SimHash
    * and banding (docs with no shingle features are excluded, as in the
    * batch operator). Input needs (doc_id long, text). */
  def banded(docs: DataFrame, n: Int = 3): DataFrame =
    DedupOps.simhashBands(DedupOps.simhashes(docs, n), 32)
      .select((col("band") * 256L + col("byte")).as("band_key"),
        col("doc_id"), col("simhash"))

  /** Near-dup pairs of a document stream (one row per colliding band —
    * distinct downstream). RocksDB state store required.
    *
    * State size: each bucket holds every member seen within `ttl` — with
    * `TTLConfig.NONE` (the spec-friendly default) hot buckets grow for
    * the lifetime of the query, so an unbounded production ingest should
    * pass a TTL of the dedup horizon (e.g. `TTLConfig(Duration.ofDays
    * (7))`) the way the batch pipeline bounds its corpus by partition
    * date; replayed doc_ids are skipped, so state growth is per unique
    * document, not per delivery.
    *
    * In-place updates (same doc_id, changed content): buckets the new
    * fingerprint still routes to replace the stored entry and re-verify,
    * so near-dup pairs against the UPDATED content are emitted. Bands
    * the new fingerprint no longer routes to cannot be reached from the
    * new row's keys (state is band-partitioned), so their stale entry
    * survives until TTL — a window where the OLD content can still match
    * one band. Bounded staleness, not silent drop.
    *
    * A re-verified pair can therefore co-exist with the pair emitted for
    * the OLD content at a different Hamming distance — e.g. (1,2,dist=2)
    * then, after doc 1's content changes, (1,2,dist=1). A `distinct()`
    * keyed on all three columns keeps both rows; consumers that want one
    * row per pair should reduce on (id_a, id_b) keeping min(dist) (the
    * StreamingSpec does exactly this).
    *
    * `maxHamming` outside 0..3 is rejected: with 4 bands the pigeonhole
    * recall holds only up to 3 differing bits. */
  def dupPairs(docs: DataFrame, maxHamming: Int = 3, n: Int = 3,
      ttl: TTLConfig = TTLConfig.NONE)(
      implicit spark: SparkSession): Dataset[DupPair] = {
    import spark.implicits._
    DedupOps.requireFourBandHamming(maxHamming)
    banded(docs, n).as[BandRow]
      .groupByKey(_.band_key)
      .transformWithState(new Processor(maxHamming, ttl), TimeMode.None(),
        OutputMode.Update())
  }
}
