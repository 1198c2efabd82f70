package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing (SURVEY.md §2.6): image/audio/video payloads
 * are opaque `binary` columns with a typed metadata struct, processed
 * partition-wise so a real decoder batches per-task (the Scala analog of
 * `mapInPandas`: one iterator per partition, constant memory, no
 * per-row JVM<->native round trips).
 *
 * Decode: payloads in one of four public formats — binary Netpbm P6,
 * uncompressed 24-bit BMP, RIFF/WAVE PCM audio and uncompressed AVI
 * video, each parsed with zero dependencies — decode for real. One
 * private dispatch tries each decoder's structural `parse` once and
 * yields the payload's CANONICAL PLANE ([[pixelPlane]]): row-major
 * top-down RGB for an image, a clip's frames concatenated in temporal
 * order, one unsigned byte per sample for audio. Every operator
 * ([[extractFeatures]], [[sampleFrames]], [[resize]] and therefore
 * [[aHash]]/[[aHashPairs]], [[transcodeToP6]]) reads that plane, so two
 * different encodings of the same image (re-ordered header whitespace,
 * added comments, another format) produce IDENTICAL features and hashes
 * — the property a perceptual near-dup pipeline exists for, and one no
 * byte-level stub can have.
 *
 * Payloads in any OTHER format still route to [[StubDecoder]], a
 * deterministic fake that derives features from the raw bytes — the
 * container has no JPEG/compressed-audio codecs, and the fallback keeps
 * the plumbing testable on arbitrary binaries. Swapping the stub for a
 * JNI/FFI codec changes nothing structurally.
 */
object Multimodal {

  /** Extracted features. Deterministic given the payload bytes. */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      mean_byte: Double,
      width: Int,
      height: Int)

  /** Σ of the unsigned bytes `p[from, until)`. */
  private def byteSum(p: Array[Byte], from: Int, until: Int): Long = {
    var sum = 0L
    var i = from
    while (i < until) { sum += p(i) & 0xff; i += 1 }
    sum
  }

  // Raw IEEE division — rounding is left to the query layer, which uses
  // the explicit floor form (engine round() diverges at half boundaries
  // across engines; see TextFunctions.fround).
  private def meanByte(p: Array[Byte]): Double =
    if (p.length == 0) 0.0 else byteSum(p, 0, p.length).toDouble / p.length

  /**
   * The stubbed decoder: stands in for image decode / feature extraction.
   * Deterministic byte statistics play the role of decoded features:
   * "width"/"height" from the first/last byte, mean byte value as the
   * stand-in embedding statistic. A real decoder has this exact
   * signature: bytes in, typed features out.
   */
  object StubDecoder {
    def decode(docId: Long, payload: Array[Byte]): MediaFeatures = {
      val n = payload.length
      MediaFeatures(
        doc_id = docId,
        n_bytes = n.toLong,
        mean_byte = meanByte(payload),
        width = if (n == 0) 0 else payload(0) & 0xff,
        height = if (n == 0) 0 else payload(n - 1) & 0xff)
    }
  }

  // ------------------------------------------------------- byte layout

  /** Little-endian reads of the BMP and RIFF header fields. */
  private object Le {
    def u16(p: Array[Byte], i: Int): Int =
      (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
    def i32(p: Array[Byte], i: Int): Int = u16(p, i) | (u16(p, i + 2) << 16)
    /** Whether the four bytes at `i` spell `t`; false past the end. */
    def tag(p: Array[Byte], i: Int, t: String): Boolean =
      i + 4 <= p.length && p(i) == t(0).toByte && p(i + 1) == t(1).toByte &&
        p(i + 2) == t(2).toByte && p(i + 3) == t(3).toByte
  }

  /** Bytes per DIB pixel row: 3 per pixel, padded to a multiple of 4. */
  private def stride(w: Int): Int = ((w * 3 + 3) / 4) * 4

  /** The canonical plane (top-down row-major RGB) of the `w × h` DIB
    * pixel rows at `off` — BGR pixels, padded rows, bottom-up unless
    * `topDown` — as BMP stores an image and AVI each frame. */
  private def dibPlane(p: Array[Byte], off: Int, w: Int, h: Int,
      topDown: Boolean): Array[Byte] = {
    val st = stride(w)
    val out = new Array[Byte](w * h * 3)
    var row = 0
    while (row < h) {
      val base = off + (if (topDown) row else h - 1 - row) * st
      var x = 0
      while (x < w) {
        // BGR on disk → RGB in the plane
        out((row * w + x) * 3) = p(base + x * 3 + 2)
        out((row * w + x) * 3 + 1) = p(base + x * 3 + 1)
        out((row * w + x) * 3 + 2) = p(base + x * 3)
        x += 1
      }
      row += 1
    }
    out
  }

  /** Sequential little-endian writes into a payload of `size` bytes —
    * the fixtures' encoder. */
  private final class LeWriter(size: Int) {
    val out = new Array[Byte](size)
    private var o = 0
    def tag(t: String): Unit = t.foreach { c => out(o) = c.toByte; o += 1 }
    def u16(v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte; o += 2
    }
    def i32(v: Int): Unit = { u16(v); u16(v >>> 16) }
    /** `n` raw samples, sample j = `v(j)`. */
    def samples(n: Int)(v: Int => Byte): Unit = {
      var j = 0
      while (j < n) { out(o + j) = v(j); j += 1 }
      o += n
    }
    /** The `w × h` image whose canonical RGB sample j is `v(j)`, as
      * bottom-up DIB rows (BGR, padded) — the inverse of [[dibPlane]]. */
    def dib(w: Int, h: Int)(v: Int => Byte): Unit = {
      val st = stride(w)
      var row = 0
      while (row < h) {
        var x = 0
        while (x < w) {
          val base = o + (h - 1 - row) * st + x * 3
          val j = (row * w + x) * 3
          out(base) = v(j + 2)     // B
          out(base + 1) = v(j + 1) // G
          out(base + 2) = v(j)     // R
          x += 1
        }
        row += 1
      }
      o += st * h
    }
  }

  // ---------------------------------------------------------- decoders

  /**
   * Binary Netpbm P6 parser (portable pixmap, the `P6` rawbits variant):
   * `P6 <ws> width <ws> height <ws> maxval <one ws byte> raster`, where
   * `<ws>` is any run of whitespace and `#`-to-newline comments, and the
   * raster is exactly width·height·3 single-byte RGB samples (maxval ≤
   * 255). Validation is STRUCTURAL and total — magic, positive dims,
   * maxval ∈ [1,255], exactly one whitespace byte after maxval, raster
   * length exact — so routing on `parse(...).isDefined` cannot
   * misclassify a non-P6 binary (a text payload would need the full
   * header grammar AND a byte-exact raster length to false-positive).
   */
  object P6Decoder {
    /** width, height, maxval, byte offset where the raster starts. */
    final case class Header(width: Int, height: Int, maxval: Int, pixelOffset: Int)

    def parse(p: Array[Byte]): Option[Header] = {
      if (p == null || p.length < 4 || p(0) != 'P' || p(1) != '6') return None
      var i = 2
      def isWs(b: Byte): Boolean =
        b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b
      // header whitespace: ≥1 whitespace byte or #-comment (to newline)
      def skipWs(): Boolean = {
        var seen = false
        var go = true
        while (go && i < p.length) {
          if (isWs(p(i))) { seen = true; i += 1 }
          else if (p(i) == '#') {
            seen = true
            while (i < p.length && p(i) != '\n') i += 1
          } else go = false
        }
        seen
      }
      // unsigned decimal, ≤ 9 digits (a 10th digit means a dimension no
      // real image has and a value that could overflow — parse failure)
      def int(): Int = {
        var v = 0
        var digits = 0
        while (i < p.length && p(i) >= '0' && p(i) <= '9') {
          if (digits == 9) return -1
          v = v * 10 + (p(i) - '0')
          digits += 1
          i += 1
        }
        if (digits == 0) -1 else v
      }
      if (!skipWs()) return None
      val w = int(); if (w < 1) return None
      if (!skipWs()) return None
      val h = int(); if (h < 1) return None
      if (!skipWs()) return None
      val mv = int(); if (mv < 1 || mv > 255) return None
      // the spec's raster delimiter: EXACTLY one whitespace byte (a
      // comment here would eat raster bytes on images starting with '#')
      if (i >= p.length || !isWs(p(i))) return None
      i += 1
      if (p.length.toLong - i != w.toLong * h * 3) return None
      Some(Header(w, h, mv, i))
    }

    /** The raster, which already is the canonical plane. */
    private[Multimodal] def plane(p: Array[Byte], hd: Header): Array[Byte] =
      java.util.Arrays.copyOfRange(p, hd.pixelOffset, p.length)
  }

  /**
   * Uncompressed 24-bit Windows BMP parser (BITMAPFILEHEADER +
   * 40-byte BITMAPINFOHEADER — the classic public format; all fields
   * little-endian). Structural validation is total, as for
   * [[P6Decoder]]: `BM` magic, header sizes, planes = 1, bpp = 24,
   * compression = 0, and the payload length must EXACTLY equal
   * dataOffset + rowStride·|height| (rows padded to 4 bytes), so a
   * non-BMP binary cannot false-positive. Decoding normalizes the
   * storage quirks away: bottom-up (positive height) or top-down
   * (negative) row order, per-row padding, and BGR channel order all
   * collapse to the canonical row-major top-down RGB plane — the P6
   * raster's layout, so a P6 and a BMP of the same pixels are
   * perceptual clones.
   */
  object BmpDecoder {
    import Le._

    final case class Header(width: Int, height: Int, topDown: Boolean,
        dataOffset: Int)

    def parse(p: Array[Byte]): Option[Header] = {
      if (p == null || p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
      val dataOffset = i32(p, 10)
      if (i32(p, 14) != 40) return None // BITMAPINFOHEADER only
      val w = i32(p, 18)
      val hRaw = i32(p, 22)
      if (w < 1 || hRaw == 0 || hRaw == Int.MinValue) return None
      if (u16(p, 26) != 1 || u16(p, 28) != 24) return None
      if (i32(p, 30) != 0) return None // BI_RGB (uncompressed)
      val h = math.abs(hRaw)
      val st = stride(w)
      if (dataOffset < 54 || st.toLong * h > Int.MaxValue) return None
      if (p.length.toLong != dataOffset.toLong + st.toLong * h) return None
      Some(Header(w, h, topDown = hRaw < 0, dataOffset))
    }

    private[Multimodal] def plane(p: Array[Byte], hd: Header): Array[Byte] =
      dibPlane(p, hd.dataOffset, hd.width, hd.height, hd.topDown)
  }

  /**
   * RIFF/WAVE PCM parser — the AUDIO modality's real decoder (the format
   * is public knowledge: `RIFF <size> WAVE` then even-padded chunks;
   * `fmt ` must declare PCM (audioFormat 1) at 8 or 16 bits; `data`
   * carries the samples). Structural validation is total, as for the
   * image decoders: chunk sizes must walk the payload EXACTLY (no
   * trailing bytes), `fmt ` must precede `data`, and the data size must
   * be a multiple of the sample frame size — a non-WAV binary cannot
   * false-positive.
   *
   * The decoded plane is one UNSIGNED byte per sample per channel —
   * 8-bit PCM verbatim (it is already unsigned), 16-bit PCM reduced to
   * its high byte rebased to unsigned ((s >> 8) + 128): deterministic,
   * order-preserving, and the same 0..255 domain the image planes use,
   * so every downstream op (frame sampling = audio sampling, resize =
   * downsample, aHash = acoustic fingerprint shape) composes unchanged.
   */
  object WavDecoder {
    import Le._

    final case class Header(channels: Int, sampleRate: Int, bits: Int,
        dataOffset: Int, dataLen: Int)

    def parse(p: Array[Byte]): Option[Header] = {
      if (p == null || p.length < 44) return None
      if (!tag(p, 0, "RIFF") || !tag(p, 8, "WAVE")) return None
      if (i32(p, 4) != p.length - 8) return None
      var i = 12
      var fmt: Option[(Int, Int, Int)] = None // channels, rate, bits
      var data: Option[(Int, Int)] = None // offset, len
      while (i + 8 <= p.length) {
        val size = i32(p, i + 4)
        if (size < 0 || i + 8 + size > p.length) return None
        if (tag(p, i, "fmt ")) {
          if (size < 16 || data.nonEmpty) return None // fmt before data
          if (u16(p, i + 8) != 1) return None // PCM only
          val ch = u16(p, i + 10)
          val rate = i32(p, i + 12)
          val bits = u16(p, i + 22)
          if (ch < 1 || rate < 1 || (bits != 8 && bits != 16)) return None
          fmt = Some((ch, rate, bits))
        } else if (tag(p, i, "data")) {
          if (fmt.isEmpty || data.nonEmpty) return None
          data = Some((i + 8, size))
        }
        i += 8 + size + (size & 1) // chunks are even-padded
      }
      if (i != p.length) return None // chunk walk must land exactly
      for {
        (ch, rate, bits) <- fmt
        (off, len) <- data
        if len % (ch * bits / 8) == 0
      } yield Header(ch, rate, bits, off, len)
    }

    private[Multimodal] def plane(p: Array[Byte], hd: Header): Array[Byte] =
      if (hd.bits == 8)
        java.util.Arrays.copyOfRange(p, hd.dataOffset, hd.dataOffset + hd.dataLen)
      else { // 16-bit LE: high byte, rebased to unsigned
        val n = hd.dataLen / 2
        val out = new Array[Byte](n)
        var j = 0
        while (j < n) {
          out(j) = ((p(hd.dataOffset + j * 2 + 1) + 128) & 0xff).toByte
          j += 1
        }
        out
      }
  }

  /**
   * Uncompressed AVI parser — the VIDEO modality's real decoder. The
   * container is public RIFF structure: `RIFF('AVI ' LIST('hdrl' avih
   * LIST('strl' strh strf)) LIST('movi' '00db'…))`, one 'vids' stream
   * whose strf is the same 40-byte BITMAPINFOHEADER BMP uses and whose
   * '00db' chunks carry raw DIB frame bits (bottom-up BGR rows, 4-byte
   * padding — decoded with the same normalization as [[BmpDecoder]]).
   * Validation is total: the chunk walk must land exactly at the payload
   * end, avih's stream count must be 1, strf geometry must match avih,
   * every frame chunk must be exactly stride·height bytes, and the
   * frame count must equal avih's dwTotalFrames.
   */
  object AviDecoder {
    import Le._

    final case class Avi(width: Int, height: Int, frameOffsets: Vector[Int])

    def parse(p: Array[Byte]): Option[Avi] = {
      if (p == null || p.length < 12) return None
      if (!tag(p, 0, "RIFF") || i32(p, 4) != p.length - 8 ||
        !tag(p, 8, "AVI ")) return None
      var i = 12
      var dims: Option[(Int, Int, Int)] = None // w, h, totalFrames
      var strfOk = false
      val frames = Vector.newBuilder[Int]
      var nFrames = 0
      var sawMovi = false
      while (i + 8 <= p.length) {
        val size = i32(p, i + 4)
        if (size < 0 || i + 8 + size > p.length) return None
        if (tag(p, i, "LIST") && size >= 4) {
          if (tag(p, i + 8, "hdrl")) {
            // walk hdrl's children for avih and the strl list
            var j = i + 12
            val end = i + 8 + size
            while (j + 8 <= end) {
              val sz = i32(p, j + 4)
              if (sz < 0 || j + 8 + sz > end) return None
              if (tag(p, j, "avih")) {
                if (sz < 56 || dims.nonEmpty) return None
                if (i32(p, j + 8 + 24) != 1) return None // one stream
                val w = i32(p, j + 8 + 32)
                val h = i32(p, j + 8 + 36)
                val tf = i32(p, j + 8 + 16)
                if (w < 1 || h < 1 || tf < 1) return None
                dims = Some((w, h, tf))
              } else if (tag(p, j, "LIST") && sz >= 4 &&
                  tag(p, j + 8, "strl")) {
                var k = j + 12
                val e2 = j + 8 + sz
                while (k + 8 <= e2) {
                  val s2 = i32(p, k + 4)
                  if (s2 < 0 || k + 8 + s2 > e2) return None
                  if (tag(p, k, "strh")) {
                    if (!tag(p, k + 8, "vids")) return None
                  } else if (tag(p, k, "strf")) {
                    // BITMAPINFOHEADER matching avih's geometry
                    val d = dims.getOrElse(return None)
                    if (s2 < 40 || i32(p, k + 8) != 40) return None
                    if (i32(p, k + 12) != d._1 ||
                      i32(p, k + 16) != d._2) return None
                    if (u16(p, k + 20) != 1 || u16(p, k + 22) != 24)
                      return None
                    if (i32(p, k + 24) != 0) return None
                    strfOk = true
                  }
                  k += 8 + s2 + (s2 & 1)
                }
              }
              j += 8 + sz + (sz & 1)
            }
          } else if (tag(p, i + 8, "movi")) {
            if (sawMovi) return None
            sawMovi = true
            val d = dims.getOrElse(return None)
            if (!strfOk) return None
            val frameBytes = stride(d._1) * d._2
            var j = i + 12
            val end = i + 8 + size
            while (j + 8 <= end) {
              val sz = i32(p, j + 4)
              if (!tag(p, j, "00db") || sz != frameBytes ||
                j + 8 + sz > end) return None
              frames += (j + 8)
              nFrames += 1
              j += 8 + sz + (sz & 1)
            }
            if (j != end) return None
          }
        }
        i += 8 + size + (size & 1)
      }
      if (i != p.length) return None
      dims match {
        case Some((w, h, tf)) if strfOk && sawMovi && nFrames == tf =>
          Some(Avi(w, h, frames.result()))
        case _ => None
      }
    }

    /** One frame's canonical plane (top-down row-major RGB) from its
      * raw DIB bits (bottom-up BGR, padded rows). */
    def framePlane(p: Array[Byte], avi: Avi, frame: Int): Array[Byte] =
      dibPlane(p, avi.frameOffsets(frame), avi.width, avi.height, topDown = false)

    /** Mod-997 byte-sum fingerprint of one decoded frame — the exact
      * integer a DuckDB oracle can rebuild from the fixture formula. */
    def frameFingerprint(p: Array[Byte], avi: Avi, frame: Int): Int = {
      val plane = framePlane(p, avi, frame)
      (byteSum(plane, 0, plane.length) % 997).toInt
    }

    /** The whole clip: frames concatenated in temporal order. */
    private[Multimodal] def plane(p: Array[Byte], avi: Avi): Array[Byte] =
      Array.concat(avi.frameOffsets.indices.map(framePlane(p, avi, _)): _*)
  }

  /** A payload one of the four decoders recognised: its canonical plane
    * and the two geometry numbers [[MediaFeatures]] reports — width ×
    * height, or channels × bits per sample for audio. `still` marks a 2D
    * image (P6 or BMP). */
  private final case class Decoded(plane: Array[Byte], width: Int,
      height: Int, still: Boolean)

  /** The one format dispatch: P6, BMP, WAV, then AVI, each parsed once;
    * None for any other payload (null included). */
  private def decoded(p: Array[Byte]): Option[Decoded] =
    P6Decoder.parse(p).map(hd =>
      Decoded(P6Decoder.plane(p, hd), hd.width, hd.height, still = true))
      .orElse(BmpDecoder.parse(p).map(hd =>
        Decoded(BmpDecoder.plane(p, hd), hd.width, hd.height, still = true)))
      .orElse(WavDecoder.parse(p).map(hd =>
        Decoded(WavDecoder.plane(p, hd), hd.channels, hd.bits, still = false)))
      .orElse(AviDecoder.parse(p).map(avi =>
        Decoded(AviDecoder.plane(p, avi), avi.width, avi.height, still = false)))

  /** The plane every downstream op consumes: the canonical plane of a
    * P6, BMP, WAV or AVI payload — one byte stream for every encoding of
    * the same pixels or samples, so re-encodings hash identically even
    * ACROSS formats — and the payload unchanged otherwise (stub
    * semantics; null reads as empty). */
  def pixelPlane(payload: Array[Byte]): Array[Byte] =
    decoded(payload).map(_.plane).getOrElse(
      if (payload == null) Array.emptyByteArray else payload)

  /** Decode one payload: REAL decode for the four formats (n_bytes/mean
    * over the canonical plane, geometry from the header), stub
    * statistics for everything else. */
  def decode(docId: Long, payload: Array[Byte]): MediaFeatures =
    decoded(payload) match {
      case Some(m) =>
        MediaFeatures(docId, m.plane.length.toLong, meanByte(m.plane),
          m.width, m.height)
      case None =>
        StubDecoder.decode(docId,
          if (payload == null) Array.emptyByteArray else payload)
    }

  // ---------------------------------------------------------- fixtures

  /** Build a media table from `documents`: the UTF-8 text bytes stand in
    * for an encoded image payload (deterministic, so oracle-checkable). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("application/octet-stream").as("mime"))

  /** The fixtures' geometry for doc d: `(4 + d%5) × (3 + d%4)`. */
  private def dims(d: Long): (Int, Int) = ((4 + d % 5).toInt, (3 + d % 4).toInt)

  /** Channel sample j of frame f (0 for stills) of doc d's canonical
    * plane: `(d·31 + f·101 + j·7) mod 251`. */
  private def sample(d: Long, f: Int, j: Int): Byte =
    ((d * 31 + f * 101 + j * 7) % 251).toByte

  /** A binary P6 payload: the ASCII `header`, then the raster. */
  private def p6Payload(header: String, raster: Array[Byte]): Array[Byte] =
    header.getBytes("US-ASCII") ++ raster

  /** One fixture table: `(doc_id, payload = encode(doc_id), mime)` for
    * every doc_id of `docs`. */
  private def fixture(docs: DataFrame, mime: String)(encode: Long => Array[Byte])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(d => (d, encode(d))))
      .toDF("doc_id", "payload")
      .withColumn("mime", lit(mime))
  }

  /**
   * Deterministic REAL P6 image fixtures from the documents table — the
   * decode-path test corpus. Image d is `(4 + d%5) × (3 + d%4)` pixels
   * with channel sample j = `(d·31 + j·7) mod 251` — pure integer
   * arithmetic on doc_id, so a DuckDB oracle rebuilds the exact pixels
   * WITHOUT parsing any bytes, and a hash match proves the Spark side
   * really decoded the raster out of the encoded payload.
   *
   * `reencoded = true` emits the SAME image in a different valid P6
   * encoding (comment lines, re-ordered header whitespace, space instead
   * of newline as the raster delimiter): byte-distinct payloads, pixel-
   * identical content — the clone pair every perceptual-hash test needs.
   */
  def p6FromDocuments(docs: DataFrame, reencoded: Boolean = false)(
      implicit spark: SparkSession): DataFrame =
    fixture(docs, "image/x-portable-pixmap") { d =>
      val (w, h) = dims(d)
      val header =
        if (!reencoded) s"P6\n$w $h\n255\n"
        else s"P6\n# graft re-encode of $d\n  $w\t$h\n# maxval next\n255 "
      p6Payload(header, Array.tabulate(w * h * 3)(sample(d, 0, _)))
    }

  /**
   * The SAME images as [[p6FromDocuments]], encoded as uncompressed
   * 24-bit BMPs (bottom-up rows, per-row 4-byte padding, BGR channel
   * order — every storage quirk the decoder must normalize away).
   * Channel sample j of the canonical row-major top-down RGB stream is
   * the same `(d·31 + j·7) mod 251`, so a P6 and a BMP of one doc_id
   * are byte-DISTINCT payloads of pixel-IDENTICAL images: the
   * cross-format clone pair.
   */
  def bmpFromDocuments(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    fixture(docs, "image/bmp") { d =>
      val (w, h) = dims(d)
      val dataOffset = 54
      val size = dataOffset + stride(w) * h
      val le = new LeWriter(size)
      import le._
      tag("BM"); i32(size); i32(0); i32(dataOffset)
      i32(40); i32(w); i32(h) // positive height = bottom-up rows
      u16(1); u16(24); i32(0); i32(stride(w) * h)
      i32(2835); i32(2835); i32(0); i32(0)
      dib(w, h)(sample(d, 0, _))
      out
    }

  /**
   * The SAME sample stream as the image fixtures, encoded as an 8-bit
   * PCM mono RIFF/WAVE payload: sample j = `(d·31 + j·7) mod 251` over
   * n = w·h·3 samples — so a WAV, a P6 and a BMP of one doc_id decode
   * to the IDENTICAL canonical plane (byte-distinct payloads in three
   * different public formats). Odd sample counts exercise RIFF's
   * even-chunk padding rule.
   */
  def wavFromDocuments(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    fixture(docs, "audio/wav") { d =>
      val (w, h) = dims(d)
      val n = w * h * 3
      val pad = n & 1
      val le = new LeWriter(44 + n + pad)
      import le._
      tag("RIFF"); i32(36 + n + pad); tag("WAVE")
      tag("fmt "); i32(16)
      u16(1)      // PCM
      u16(1)      // mono
      i32(8000)   // sample rate
      i32(8000)   // byte rate
      u16(1)      // block align
      u16(8)      // bits per sample
      tag("data"); i32(n)
      samples(n)(sample(d, 0, _))
      out
    }

  /**
   * Deterministic uncompressed-AVI fixtures: doc d is a clip of
   * `2 + d%3` frames at the image fixtures' `w × h` geometry; channel
   * sample j of frame f's canonical RGB stream is
   * `(d·31 + f·101 + j·7) mod 251` — integer arithmetic a DuckDB oracle
   * rebuilds without parsing a container. Frames are stored as real DIB
   * bits (bottom-up BGR, padded rows) inside the full RIFF structure
   * ([[AviDecoder]]'s layout), so the parser exercises the whole walk.
   */
  def aviFromDocuments(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    fixture(docs, "video/avi") { d =>
      val (w, h) = dims(d)
      val nF = (2 + d % 3).toInt
      val frameBytes = stride(w) * h
      // sizes: every chunk here is even (stride is a multiple of 4)
      val strlSize = 4 + 8 + 56 + 8 + 40
      val hdrlSize = 4 + 8 + 56 + 8 + strlSize
      val moviSize = 4 + nF * (8 + frameBytes)
      val total = 12 + 8 + hdrlSize + 8 + moviSize
      val le = new LeWriter(total)
      import le._
      tag("RIFF"); i32(total - 8); tag("AVI ")
      tag("LIST"); i32(hdrlSize); tag("hdrl")
      tag("avih"); i32(56)
      i32(40000); i32(frameBytes * 25); i32(0); i32(0) // usec/frame…
      i32(nF); i32(0); i32(1); i32(frameBytes)         // totalFrames, streams=1
      i32(w); i32(h); i32(0); i32(0); i32(0); i32(0)
      tag("LIST"); i32(strlSize); tag("strl")
      tag("strh"); i32(56)
      tag("vids"); tag("DIB ")
      i32(0); u16(0); u16(0); i32(0); i32(1); i32(25)  // scale/rate
      i32(0); i32(nF); i32(frameBytes); i32(-1); i32(0)
      u16(0); u16(0); u16(0); u16(0)
      tag("strf"); i32(40)
      i32(40); i32(w); i32(h); u16(1); u16(24); i32(0)
      i32(frameBytes); i32(2835); i32(2835); i32(0); i32(0)
      tag("LIST"); i32(moviSize); tag("movi")
      (0 until nF).foreach { f =>
        tag("00db"); i32(frameBytes)
        dib(w, h)(sample(d, f, _))
      }
      out
    }

  // --------------------------------------------------------- operators

  /**
   * FORMAT NORMALIZATION — the ETL step a heterogeneous multimodal
   * corpus needs before storage dedup: every payload whose decoder
   * yields 2D pixel geometry (P6 or 24-bit BMP) is re-encoded as the
   * CANONICAL P6 byte stream (`P6\n<w> <h>\n255\n` + top-down RGB
   * raster — one byte stream per image, whatever it arrived as), so
   * byte-level exact dedup downstream collapses cross-format and
   * re-encoded copies without any perceptual hashing. Non-image
   * payloads (audio, video containers, unknown binaries) pass through
   * unchanged with `transcoded = false` — normalizing them to a still
   * image would destroy information, and the caller can route on the
   * flag. Deterministic: the canonical encoding of an image is unique,
   * so `transcode ∘ transcode = transcode` (idempotent, spec-pinned).
   */
  def transcodeToP6(media: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        decoded(raw) match {
          case Some(m) if m.still =>
            (id, p6Payload(s"P6\n${m.width} ${m.height}\n255\n", m.plane), true)
          case _ => (id, raw, false)
        }
      })
      .toDF("doc_id", "payload", "transcoded")
      .withColumn("mime",
        when(col("transcoded"), lit("image/x-portable-pixmap"))
          .otherwise(lit("application/octet-stream")))
  }

  /**
   * Partition-wise feature extraction — the `mapInPandas` analog. Each
   * task iterates its partition once through [[decode]] (a real decoder
   * for the four formats, [[StubDecoder]] otherwise); the output is a
   * typed Dataset whose schema downstream SQL composes with.
   */
  def extractFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decode(id, bytes) })
  }

  /** One sampled "frame": the payload byte at an evenly-spaced offset —
    * the video-frame-sampling shape (k frames per clip regardless of
    * duration). */
  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_val: Int)

  /**
   * Frame sampling: k evenly-spaced single-byte samples per payload
   * (offset_i = floor(i·n/k)) — the stand-in for decoding k frames from
   * a video byte stream. Same partition-wise iteration as
   * [[extractFeatures]]; a real frame decoder replaces the byte read.
   * Empty payloads contribute no frames.
   */
  def sampleFrames(media: DataFrame, k: Int)(
      implicit spark: SparkSession): Dataset[FrameSample] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, raw) =>
        AviDecoder.parse(raw) match {
          case Some(avi) if avi.frameOffsets.nonEmpty =>
            // a REAL video container samples REAL frames: k evenly-
            // spaced frames decoded from their DIB bits, each reported
            // as its exact mod-997 plane fingerprint
            (0 until k).iterator.map { i =>
              val f = (i * avi.frameOffsets.length) / k
              FrameSample(id, i, AviDecoder.frameFingerprint(raw, avi, f))
            }
          case _ =>
            // flat media: k evenly-spaced samples of the DECODED plane
            // (pixel channels for images, PCM bytes for audio, raw
            // bytes for unknown formats) — re-encoding must not move
            // frames
            val bytes = pixelPlane(raw)
            val n = bytes.length
            if (n == 0) Iterator.empty
            else (0 until k).iterator.map { i =>
              FrameSample(id, i, bytes((i.toLong * n / k).toInt) & 0xff)
            }
        }
      })
  }

  /** One "pixel" of the resized payload: the byte-sum and width of one
    * of k equal spans — the downsample/thumbnail shape. */
  final case class ResizedBucket(doc_id: Long, bucket: Int,
      sum_bytes: Long, n_in_bucket: Long)

  /**
   * Resize (downsample) to k buckets: bucket b covers byte span
   * [⌊b·n/k⌋, ⌊(b+1)·n/k⌋) and reports its byte-sum and width — integer
   * outputs so the result is exactly oracle-comparable (a real resize
   * averages pixels; the span arithmetic is identical). Empty payloads
   * contribute no buckets.
   */
  def resize(media: DataFrame, k: Int)(
      implicit spark: SparkSession): Dataset[ResizedBucket] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, raw) =>
        // spans cover the DECODED plane (see sampleFrames) — so aHash,
        // which is built from these spans, is an invariant of the IMAGE
        // (or clip, or sample stream), not of its encoding
        val bytes = pixelPlane(raw)
        val n = bytes.length
        if (n == 0) Iterator.empty
        else (0 until k).iterator.map { b =>
          // in Long: b·n passes Int.MaxValue from ~45 MB at k = 48
          val lo = (b.toLong * n / k).toInt
          val hi = ((b + 1).toLong * n / k).toInt
          ResizedBucket(id, b, byteSum(bytes, lo, hi), (hi - lo).toLong)
        }
      })
  }

  /**
   * Average-hash (aHash) of each payload — the classic perceptual image
   * fingerprint: downsample to `k` spans ([[resize]] over the decoded
   * plane), then bit b = 1 iff span b's mean byte exceeds the payload's
   * mean. The comparison is the EXACT integer cross-multiply
   * sum_b·n_total > total·n_b (no division, no float), and the hash
   * packs as Σ bit·2^b — a k ≤ 62-bit
   * BIGINT on both engines. Empty payloads emit no hash (nothing to
   * perceive); spans past the payload's end contribute 0-bits.
   * Payloads beyond ~190 MB would overflow the cross-multiply — raise
   * loudly rather than mis-hash.
   */
  def aHash(media: DataFrame, k: Int = 48)(
      implicit spark: SparkSession): DataFrame = {
    require(k >= 1 && k <= 62, s"k must be in [1, 62], got $k")
    val r = resize(media, k).toDF()
    val tot = r.groupBy("doc_id").agg(
      sum(col("sum_bytes")).as("total"), sum(col("n_in_bucket")).as("n_total"))
    r.join(tot, "doc_id")
      .select(col("doc_id"),
        // 255·n² must stay under 2⁶³: n ≤ ⌊√(2⁶³/255)⌋ = 190 M bytes
        when(col("n_total") > lit(190000000L),
          raise_error(lit("aHash: payload too large for exact cross-multiply")))
          .otherwise(lit(0L)).as("guard"),
        when(col("sum_bytes") * col("n_total") > col("total") * col("n_in_bucket"),
          expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy("doc_id").agg(sum(col("bit") + col("guard")).as("ahash"))
  }

  /**
   * Perceptual near-dup pairs over the payload column — the image-dedup
   * step of a multimodal curation stack: [[aHash]] fingerprints, banded
   * LSH candidates (hamming ≤ maxHamming ⇒ pigeonhole: some band of
   * bands = maxHamming+1 is EQUAL, so candidate generation is an
   * equi-join on (band, key) — never an all-pairs scan), then the exact
   * `bit_count(xor)` verify on candidates only. Same sub-quadratic
   * shape as the SimHash text family; only the fingerprint source
   * differs (payload spans, not token shingles). Returns
   * (id_a, id_b, hamming) for verified pairs.
   */
  def aHashPairs(media: DataFrame, k: Int = 48, maxHamming: Int = 2)(
      implicit spark: SparkSession): DataFrame = {
    val bands = maxHamming + 1
    val bandBits = k / bands
    require(bandBits >= 1, s"need >= 1 bit per band ($bands bands over $k bits)")
    // the LAST band takes the remainder bits — every bit must live in
    // SOME band or the pigeonhole guarantee silently breaks (a pair
    // differing only in uncovered bits would never become a candidate)
    val widthOf = (b: Int) => if (b == bands - 1) k - b * bandBits else bandBits
    val banded = DedupOps.bandRows(aHash(media, k), "doc_id", Seq("ahash"),
      (0 until bands).map(b =>
        expr(s"(ahash >> ${b * bandBits}) & ${(1L << widthOf(b)) - 1}")))
    DedupOps.candidatePairs(banded, Seq("band", "key"),
        Seq(expr("bit_count(a.ahash ^ b.ahash)").cast("long").as("hamming")))
      .filter(col("hamming") <= maxHamming)
  }
}
