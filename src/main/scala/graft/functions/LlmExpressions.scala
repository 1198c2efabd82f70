package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the LLM-pipeline hot paths
 * (graft.llm.*). Semantically IDENTICAL to the higher-order-function
 * formulations in graft.llm.TextFunctions (same mod-prime arithmetic,
 * same in-order IEEE-double folds — the DuckDB oracles bit-match either
 * implementation), but evaluated as tight JVM loops instead of
 * per-element interpreted lambda trees: on the sf0.1 bench this is a
 * 10-100x speedup for the signature/cosine stages.
 *
 * All six participate in whole-stage codegen via doGenCode: VecDot
 * inlines its loop; the rest emit a static call into [[LlmExprs]]
 * (the standard invoke-static pattern), so no row ever falls back to
 * the interpreted path inside a codegen'd stage.
 */
object LlmExprs {
  /** Modulus for all polynomial hashing (matches TextFunctions.P). */
  val P = 1000000007L

  /** Polynomial rolling hash of a string's UTF-16 code units. On ASCII
    * (and BMP-sans-surrogates) text this equals the oracle's unicode()
    * codepoint fold; beyond the BMP they diverge — the corpus contract
    * is ASCII, enforced at the boundary via TextFunctions.isAscii and
    * asserted over the fixtures in LlmSpec. */
  def hashChars(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i).toInt) % P; i += 1 }
    h
  }

  /** Static entry for PolyHashExpr codegen. */
  def polyHash(s: UTF8String): Long = hashChars(s.toString)

  /** Encode one word s[i, j): initial code-point symbols, then one
    * greedy in-place pass per merge. Returns the symbol buffer and its
    * live length (the buffer's tail past `len` is garbage). Shared by
    * the counting ([[bpeCount]]) and collecting ([[bpeTokens]]) entries
    * so the two can never drift. */
  private def encodeSyms(s: String, i: Int, j: Int,
      lhs: Array[String], rhs: Array[String]): (Array[String], Int) = {
    val syms = new Array[String](s.codePointCount(i, j))
    var k = 0
    var cp = i
    while (cp < j) {
      val cc = Character.charCount(s.codePointAt(cp))
      syms(k) = s.substring(cp, cp + cc)
      k += 1
      cp += cc
    }
    var len = syms.length
    var m = 0
    while (m < lhs.length) {
      val l = lhs(m)
      val r = rhs(m)
      var out = 0
      var p = 0
      while (p < len) {
        val x = syms(p)
        if (out > 0 && x == r && syms(out - 1) == l)
          syms(out - 1) = l + x
        else { syms(out) = x; out += 1 }
        p += 1
      }
      len = out
      m += 1
    }
    (syms, len)
  }

  /** Static entry for BpeCountExpr: total token count of `text` under
    * the ordered merges. One greedy in-place pass per (word, merge) —
    * fusing overwrites the accumulator's last symbol, mirroring the
    * packed-string fold symbol-for-symbol (symbols are Sep-free by the
    * learn-time assertion, so last-symbol equality IS the
    * `endsWith(Sep + lhs)` check). Initial symbols are CODE POINTS, not
    * UTF-16 code units: the learn path's `split(word, "")` and the
    * HOF fold both split on code points, so a supplementary-plane char
    * (one surrogate pair) must start as ONE symbol here too — charAt
    * iteration would split it in two and the spec-pinned ≡ would hold
    * only on the ASCII corpus. */
  def bpeCount(text: UTF8String, lhs: Array[String], rhs: Array[String]): Long = {
    val s = text.toString
    val n = s.length
    var count = 0L
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) count += encodeSyms(s, i, j, lhs, rhs)._2
      i = j + 1
    }
    count
  }

  /** Production-k encode: one greedy pass per PRESENT merge (selected by
    * min rank via [[BpeCodec]]'s hash lookup) instead of one pass per
    * merge in the list — O(len²) per word, independent of k. At a real
    * tokenizer's k = 32k–100k the sequential loop's O(k·len) per word is
    * the difference between an encode-bound scan and a dead one (the
    * measured SCALE.md row: 32k merges, ~200× on the Zipf corpus).
    *
    * EXACTLY ≡ the sequential per-rank loop for WELL-FORMED merge lists
    * (every component is a single code point or the merged symbol of a
    * strictly earlier rank — true of every list [[graft.llm.Bpe]] learns
    * and [[graft.llm.BpeIndex]] stores): applying the minimal present
    * rank as a full greedy pass eliminates that pair for good (a pass
    * leaves no (lhs,rhs) adjacency, and later merges only create
    * adjacencies involving their own later-ranked merged symbol), so the
    * fired subsequence and every intermediate state match the
    * sequential replay. For arbitrary lists the equivalence breaks
    * (rank 1 = (x, ab), rank 2 = (a, b): sequential never revisits rank
    * 1 after rank 2 creates "ab"), so [[BpeCodec]] verifies
    * well-formedness at construction and falls back to the sequential
    * loop when it does not hold — BpeSpec pins both regimes ≡. */
  private def encodeSymsIndexed(s: String, i: Int, j: Int,
      codec: BpeCodec): (Array[String], Int) = {
    val syms = new Array[String](s.codePointCount(i, j))
    var k = 0
    var cp = i
    while (cp < j) {
      val cc = Character.charCount(s.codePointAt(cp))
      syms(k) = s.substring(cp, cp + cc)
      k += 1
      cp += cc
    }
    var len = syms.length
    var exhausted = false
    while (!exhausted && len >= 2) {
      var best = Int.MaxValue
      var p = 0
      while (p < len - 1) {
        val r = codec.rankOf(syms(p), syms(p + 1))
        if (r < best) best = r
        p += 1
      }
      if (best == Int.MaxValue) exhausted = true
      else {
        val l = codec.lhs(best)
        val r = codec.rhs(best)
        var out = 0
        p = 0
        while (p < len) {
          val x = syms(p)
          if (out > 0 && x == r && syms(out - 1) == l)
            syms(out - 1) = l + x
          else { syms(out) = x; out += 1 }
          p += 1
        }
        len = out
      }
    }
    (syms, len)
  }

  private def encodeDispatch(s: String, i: Int, j: Int,
      codec: BpeCodec): (Array[String], Int) =
    if (codec.useIndexed) encodeSymsIndexed(s, i, j, codec)
    else encodeSyms(s, i, j, codec.lhs, codec.rhs)

  /** Codec entry for BpeCountExpr codegen — dispatches per
    * [[BpeCodec.useIndexed]]. */
  def bpeCount(text: UTF8String, codec: BpeCodec): Long = {
    val s = text.toString
    val n = s.length
    var count = 0L
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) count += encodeDispatch(s, i, j, codec)._2
      i = j + 1
    }
    count
  }

  /** Codec entry for BpeTokensExpr codegen — dispatches per
    * [[BpeCodec.useIndexed]]. */
  def bpeTokens(text: UTF8String, codec: BpeCodec): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) {
        val (syms, len) = encodeDispatch(s, i, j, codec)
        var k = 0
        while (k < len) { out += UTF8String.fromString(syms(k)); k += 1 }
      }
      i = j + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Static entry for BpeTokensExpr: the document's FULL token stream
    * (document order, multiplicity kept) under the ordered merges — the
    * array the encoder export explodes. Same per-word loop as
    * [[bpeCount]] via [[encodeSyms]]; the K-nested HOF formulation this
    * replaces evaluated interpreted at ~4.5 s per sf0.1 pass (q136). */
  def bpeTokens(text: UTF8String, lhs: Array[String],
      rhs: Array[String]): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) {
        val (syms, len) = encodeSyms(s, i, j, lhs, rhs)
        var k = 0
        while (k < len) { out += UTF8String.fromString(syms(k)); k += 1 }
      }
      i = j + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Modulus-parameterized [[polyHash]] (mod = P48 for wide keys; with
    * h < 2^48 the fold's products stay < 2^53 — exact in int64 and in
    * the oracle's arithmetic). */
  def polyHashMod(s: UTF8String, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) { h = (h * 31L + str.charAt(i).toInt) % mod; i += 1 }
    h
  }

  /** Per-executor-thread Deflater, reset() between rows: a Deflater is a
    * native (JNI/zlib) resource, and allocating+ending one PER ROW
    * dominates the actual compression cost on short documents. reset()
    * restores the exact initial state (level and nowrap are kept), so
    * output is byte-identical to a fresh instance. Never end()ed — one
    * native block per executor thread for the JVM's lifetime is noise,
    * and threads are pooled so the thread-local count is bounded. */
  private val localDeflater =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    }

  /** Static entry for DeflateLenExpr codegen: DEFLATE-compressed size of
    * the string's UTF-8 bytes at the default level, raw stream (nowrap —
    * no zlib header so tiny inputs aren't all header). Deterministic for
    * a fixed JVM; there is no cross-engine oracle for zlib, so the
    * operator is spec-checked rather than hash-checked. */
  def deflateLen(s: UTF8String): Long = {
    val in = s.getBytes
    val d = localDeflater.get()
    try {
      d.setInput(in)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.reset()
      total
    } catch {
      // The pooled-thread invariant rests on reset() always restoring the
      // initial state; a Deflater abandoned mid-stream (OOM/interrupt
      // between deflate() calls) would silently poison every later row on
      // this thread. Discard the instance instead — the next row
      // allocates fresh — and release the native block eagerly.
      case t: Throwable =>
        try d.end() finally localDeflater.remove()
        throw t
    }
  }

  /** 48-bit-range prime modulus for wide feature hashing (SimHash widths
    * beyond 30 bits need feature hashes that populate those bits; with
    * h < 2^48 the products h*31 stay < 2^53 — exact in int64 AND in the
    * oracle's double arithmetic). NOT usable for MinHash: its permutation
    * coefficients would overflow int64 on 48-bit inputs. */
  val P48 = 281474976710597L

  /** Static entry for ShingleHashList codegen/eval. */
  def shingleHashes(text: UTF8String, n: Int): ArrayData =
    shingleHashesMod(text, n, P)

  /** Modulus-parameterized variant (mod = P48 for wide SimHash). */
  def shingleHashesMod(text: UTF8String, n: Int, mod: Long): ArrayData = {
    val words = text.toString.split(" ", -1)
    val m = words.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var k = 0
      while (k < n) {
        if (k > 0) h = (h * 31L + 32L) % mod // the ' ' separator
        val w = words(i + k)
        var c = 0
        while (c < w.length) { h = (h * 31L + w.charAt(c).toInt) % mod; c += 1 }
        k += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
   * SIGMOD 2003) over a shingle-hash array as ONE O(n) pass — the
   * native form of the `transform(sequence, i => slice + array_min +
   * array_position(reverse(slice), mn))` HOF in
   * [[graft.llm.DedupOps.winnowFingerprints]], which is O(n·w) with
   * three array allocations per window and per-element interpreted
   * lambda dispatch.
   *
   * Semantics (spec-pinned ≡ the HOF in WinnowExprSpec): windows of
   * length wl = min(w, n) slide over the hash stream; each selects its
   * minimum with ties to the RIGHTMOST copy; the (pos, min) pair packs
   * as `pos·packMod + min`; repeated selections collapse to one. The
   * monotonic deque pops equal-or-greater tail values on push, so the
   * front is always the window's rightmost minimum. Selected positions
   * are nondecreasing as the window slides (the old rightmost min either
   * stays selected or a position ≥ it takes over), so equal packed
   * values are ADJACENT and the running last-emitted check reproduces
   * `array_distinct`'s first-occurrence dedup exactly.
   */
  def winnowEnc(input: ArrayData, w: Int, packMod: Long): ArrayData = {
    val hs = input.toLongArray()
    val n = hs.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val wl = math.min(w, n)
    val nw = n - wl + 1
    val dq = new Array[Int](n) // deque of indices, values strictly increasing
    var head = 0
    var tail = 0
    val out = new Array[Long](nw)
    var m = 0
    var j = 0
    var i = 0
    while (i < nw) {
      val end = i + wl - 1
      while (j <= end) {
        while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
        dq(tail) = j
        tail += 1
        j += 1
      }
      while (dq(head) < i) head += 1
      val p = dq(head)
      val enc = p * packMod + hs(p)
      if (m == 0 || out(m - 1) != enc) { out(m) = enc; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** The value-set form of [[winnowEnc]] (positions dropped): distinct
    * selected hash VALUES in first-occurrence order — ≡
    * `array_distinct(transform(sequence, i => array_min(slice)))` in
    * [[graft.llm.DedupOps.winnowPrintValues]]. Values CAN repeat
    * non-adjacently (a value re-selected at a later position after an
    * intervening smaller value expired), so dedup needs real set
    * membership, not the last-emitted check. A window that keeps the
    * previous window's selection skips the set: that value is already
    * in it, and skipping spares the boxing of most windows. */
  def winnowValues(input: ArrayData, w: Int): ArrayData = {
    val hs = input.toLongArray()
    val n = hs.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val wl = math.min(w, n)
    val nw = n - wl + 1
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new Array[Long](nw)
    val seen = new java.util.HashSet[java.lang.Long]()
    var m = 0
    var j = 0
    var i = 0
    var last = 0L
    while (i < nw) {
      val end = i + wl - 1
      while (j <= end) {
        while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
        dq(tail) = j
        tail += 1
        j += 1
      }
      while (dq(head) < i) head += 1
      val v = hs(dq(head))
      if ((i == 0 || v != last) && seen.add(java.lang.Long.valueOf(v))) { out(m) = v; m += 1 }
      last = v
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Static entry for MinHashSigExpr codegen/eval. Empty input yields an
    * all-null signature (array_min-over-empty semantics). */
  def minhashSig(input: ArrayData, perms: Int): ArrayData = {
    val hs = input.toLongArray()
    if (hs.isEmpty)
      return new GenericArrayData(Array.fill[Any](perms)(null))
    val out = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      val a = 1000003L * p + 7919L
      val b = 104729L * p + 12345L
      var min = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (a * hs(i) + b) % P
        if (v < min) min = v
        i += 1
      }
      out(p) = min
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Static entry for SimHash codegen/eval: `bits`-wide SimHash. */
  def simhashW(input: ArrayData, bits: Int): Long = {
    val hs = input.toLongArray()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
    sim
  }

  /**
   * Deterministic pseudo-random hyperplane weight for (hyperplane jj,
   * dim i): a murmur-style integer mix. A merely-affine generator (LCG
   * over jj*K1 + i*K2) makes each hyperplane an arithmetic progression
   * and adjacent hyperplanes near-parallel — bucket occupancy then
   * collapses (measured: 50k random vectors landed in 24 of 4096
   * buckets). The xor-fold breaks affinity; occupancy matches true
   * random hyperplanes (~4050 buckets, max ~70). All intermediates are
   * < 2^63 and non-negative, so the arithmetic is exactly mirrorable
   * in DuckDB int64 SQL.
   */
  def hyperplaneWeight(jj: Long, i: Long): Long = {
    val s = jj * 4096L + i
    val h1 = (s * 2654435761L) % 4294967296L
    val h2 = h1 ^ (h1 >> 16)
    val h3 = h2 % 2147483648L
    val h4 = (h3 * 2246822519L) % 4294967296L
    val h5 = h4 ^ (h4 >> 13)
    (h5 % 2000003L) - 1000001L
  }

  /** Static entry for NearestCellExpr codegen/eval: argmax-cosine cell id
    * over a cell-ascending array<struct<cell_id, cvec>>. Bit-identical to
    * folding TextFunctions.cosine per cell with strict `>` (earliest cell
    * wins ties): every per-cell comparison sees the SAME IEEE value —
    * dot/(|v|·|c|), multiplications in that order — the only change is
    * hoisting |v| out of the loop, which is the same bits computed once.
    * `vd`/`cd` select float vs double element accessors (compile-time
    * types of the two sides). */
  def nearestCell(v: ArrayData, cents: ArrayData, vd: Boolean, cd: Boolean): Long = {
    val n = v.numElements()
    var nvv = 0.0
    var i = 0
    while (i < n) {
      val a = if (vd) v.getDouble(i) else v.getFloat(i).toDouble
      nvv += a * a
      i += 1
    }
    val nv = math.sqrt(nvv)
    var bestCos = -2.0
    var bestCell = -1L
    var ci = 0
    val nc = cents.numElements()
    while (ci < nc) {
      val st = cents.getStruct(ci, 2)
      val cell = st.getLong(0)
      val cv = st.getArray(1)
      val cn = cv.numElements()
      val m = math.min(n, cn)
      var d = 0.0
      var k = 0
      while (k < m) {
        val a = if (vd) v.getDouble(k) else v.getFloat(k).toDouble
        val b = if (cd) cv.getDouble(k) else cv.getFloat(k).toDouble
        d += a * b
        k += 1
      }
      var cc = 0.0
      var j = 0
      while (j < cn) {
        val b = if (cd) cv.getDouble(j) else cv.getFloat(j).toDouble
        cc += b * b
        j += 1
      }
      val sc = d / (nv * math.sqrt(cc))
      // Java `>` is false for NaN, so a zero-norm vector or centroid
      // (cosine = NaN) never wins a cell; the HOF reference carries an
      // explicit isnan guard to match (Spark SQL `>` sorts NaN greatest).
      if (sc > bestCos) { bestCos = sc; bestCell = cell }
      ci += 1
    }
    bestCell
  }

  /** Static entry for HyperplaneBucketExpr codegen/eval. */
  def hyperplaneBucket(x: ArrayData, nbits: Int, bitOffset: Int): Long = {
    val dim = x.numElements()
    var bucket = 0L
    var j = 0
    while (j < nbits) {
      val jj = (j + bitOffset).toLong
      var s = 0.0
      var i = 0
      while (i < dim) {
        s += hyperplaneWeight(jj, i).toDouble * x.getFloat(i).toDouble
        i += 1
      }
      if (s > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }
}

/** DEFLATE-compressed byte count of a string — the compression-ratio
  * quality signal (Gopher/RedPajama-style: highly repetitive boilerplate
  * compresses far below natural prose). Tight JNI-backed loop via
  * java.util.zip; participates in whole-stage codegen. */
case class DeflateLenExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.deflateLen(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.deflateLen($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Pre-indexed ordered merge list for the native BPE encode loop — built
 * once per expression instance (driver side), shipped as one codegen
 * reference object. Provides:
 *
 *  - `rankOf(a, b)`: O(1) pair → rank lookup (nested java HashMap — no
 *    per-lookup key allocation in the hot loop), the structure that
 *    makes [[LlmExprs.bpeCount]]'s min-rank encode independent of k;
 *  - `useIndexed`: the dispatch decision. The min-rank encode is only
 *    provably ≡ the sequential per-rank pass for WELL-FORMED lists
 *    (every component a single code point or an earlier rank's merged
 *    symbol — see [[LlmExprs]]); malformed (hand-built) lists fall back
 *    to the sequential loop. Below `IndexedThreshold` merges the
 *    sequential loop is also simply faster (k short passes beat the
 *    per-iteration hash probing), so the registry's k=10 queries keep
 *    their exact plan and cost.
 */
final class BpeCodec(val lhs: Array[String], val rhs: Array[String])
    extends Serializable {
  import BpeCodec.IndexedThreshold

  @transient private lazy val rank
      : java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    var i = 0
    while (i < lhs.length) {
      val inner = m.computeIfAbsent(lhs(i),
        _ => new java.util.HashMap[String, Integer]())
      // a learned list never repeats a pair (a pass eliminates it and no
      // later merge can re-create it); keep the FIRST rank regardless —
      // that is the one the sequential replay would fire
      inner.putIfAbsent(rhs(i), Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** 0-based rank of pair (a, b), Int.MaxValue if not a merge. */
  def rankOf(a: String, b: String): Int = {
    val inner = rank.get(a)
    if (inner == null) Int.MaxValue
    else {
      val v = inner.get(b)
      if (v == null) Int.MaxValue else v.intValue()
    }
  }

  /** Every component is a single code point or the merged symbol of a
    * strictly earlier rank, AND every merged symbol is unique — the
    * precondition for min-rank ≡ sequential. Uniqueness matters: a list
    * that re-creates an already-merged string at a later rank (e.g.
    * (a,b),(b,c),(a,bc),(x,abc),(ab,c) on word "xabc") makes the
    * sequential replay stop at [x, abc] while the min-rank loop would
    * fire the earlier (x,abc) rank on the late-recreated "abc" — a
    * learned list never does this (a merged pair is eliminated and
    * cannot reappear), so treating reuse as malformed only demotes
    * hand-built lists to the sequential fallback. */
  @transient lazy val wellFormed: Boolean = {
    val seen = new java.util.HashSet[String]()
    def ok(s: String): Boolean =
      (s.nonEmpty && s.length == Character.charCount(s.codePointAt(0))) ||
        seen.contains(s)
    var i = 0
    var good = true
    while (good && i < lhs.length) {
      good = ok(lhs(i)) && ok(rhs(i)) && seen.add(lhs(i) + rhs(i))
      i += 1
    }
    good
  }

  @transient lazy val useIndexed: Boolean =
    lhs.length >= IndexedThreshold && wellFormed
}

object BpeCodec {
  /** Below this many merges the sequential per-rank loop wins on
    * constant factors; at/above it the min-rank indexed encode takes
    * over (production k = 32k–100k). */
  val IndexedThreshold = 64
}

/** Native BPE token counter — the scan-stage encode of
  * [[graft.llm.Bpe.tokenCount]] as one tight loop instead of K nested
  * interpreted HOF folds (measured: the K = 10 HOF tree costs ~4 s per
  * sf0.1 evaluation; this runs the identical greedy merges in
  * milliseconds). Semantics are EXACTLY the packed-string fold's:
  * per word (single-space split, empties skipped), symbols start as
  * code points (surrogate pairs stay whole, matching the learn path's
  * code-point split) and each merge makes one greedy left-to-right
  * pass fusing (lhs, rhs) — a just-fused symbol never re-merges within
  * the pass (lhs+rhs ≠ lhs, rhs non-empty). BpeSpec pins ≡ the HOF
  * formulation; the oracle replays the same fold in SQL. */
case class BpeCountExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val codec: BpeCodec = new BpeCodec(
    merges.map(_._1).toArray, merges.map(_._2).toArray)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.bpeCount(input.asInstanceOf[UTF8String], codec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("bpeCodec", codec, "graft.functions.BpeCodec")
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.bpeCount($c, $c0)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The BPE encoder's token STREAM as a native array expression —
  * [[BpeCountExpr]]'s collecting sibling (both route through one shared
  * per-word loop, so count and stream can never disagree). Backs
  * [[graft.llm.Bpe.tokens]]/`encodeTokens`; the HOF formulation is
  * retained as `encodeTokensHof` and BpeSpec-pinned ≡. */
case class BpeTokensExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val codec: BpeCodec = new BpeCodec(
    merges.map(_._1).toArray, merges.map(_._2).toArray)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.bpeTokens(input.asInstanceOf[UTF8String], codec)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("bpeCodec", codec, "graft.functions.BpeCodec")
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.bpeTokens($c, $c0)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Polynomial rolling hash of a string column → long. */
case class PolyHashExpr(child: Expression, mod: Long = LlmExprs.P)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.polyHashMod(input.asInstanceOf[UTF8String], mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.polyHashMod($c, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * All n-word-shingle polynomial hashes of a text column, in document
 * order WITH multiplicity → array<long>. The shingle string is
 * "w_i w_{i+1} ... w_{i+n-1}" (single spaces); hashing streams the
 * chars without materializing the concatenation. Tokenization matches
 * Spark's split(text, ' ') with limit -1 (trailing empties kept).
 */
case class ShingleHashList(child: Expression, n: Int,
    mod: Long = LlmExprs.P) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.shingleHashesMod(input.asInstanceOf[UTF8String], n, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LlmExprs.shingleHashesMod($c, $n, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing selection over a shingle-hash array column → array<long>
  * of distinct packed `pos·packMod + fp` fingerprints (rightmost-min tie
  * rule, first-occurrence dedup order) — one codegen'd O(n) deque pass;
  * see [[LlmExprs.winnowEnc]]. */
case class WinnowEncExpr(child: Expression, w: Int,
    packMod: Long = LlmExprs.P) extends UnaryExpression {
  require(w >= 1, s"winnow window must be >= 1, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.winnowEnc(input.asInstanceOf[ArrayData], w, packMod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LlmExprs.winnowEnc($c, $w, ${packMod}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[WinnowEncExpr]]'s value-set sibling → array<long> of distinct
  * selected hash values (positions dropped); see
  * [[LlmExprs.winnowValues]]. */
case class WinnowValuesExpr(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"winnow window must be >= 1, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.winnowValues(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LlmExprs.winnowValues($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * MinHash signature of a shingle-hash array → array<long> of length
 * `perms`: sig[p] = min over h of ((1000003p + 7919)h + 104729p +
 * 12345) mod P. Empty input yields all-null signature (matching the
 * HOF formulation, where array_min over an empty array is null) so
 * degenerate docs never produce band-key collisions.
 */
case class MinHashSigExpr(child: Expression, perms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.minhashSig(input.asInstanceOf[ArrayData], perms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.minhashSig($c, $perms)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 32-bit SimHash of a feature-hash array (multiset, in order) → long:
 * each hash votes ±1 per bit position; bit b set iff its vote sum > 0.
 */
case class SimHashExpr(child: Expression, bits: Int = 32) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.simhashW(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LlmExprs.simhashW($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * In-order dot product of two float- or double-array columns, accumulated
 * in double with each element cast BEFORE the multiply — bit-identical to
 * the oracle's list_reduce fold and TextFunctions.dotProduct. The element
 * accessor is chosen from each side's compile-time type, so float corpus
 * vectors dot double k-means centroids with no conversion pass.
 */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isDoubleArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDoubleArr(left), isDoubleArr(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += (if (xd) x.getDouble(i) else x.getFloat(i).toDouble) *
        (if (yd) y.getDouble(i) else y.getFloat(i).toDouble)
      i += 1
    }
    s
  }
  // The hottest expression (3 dots per candidate pair in cosine): the
  // loop is inlined into the whole-stage-codegen'd method body.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val nVar = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, e: Expression): String =
        if (isDoubleArr(e)) s"$arr.getDouble($i)"
        else s"((double) $arr.getFloat($i))"
      s"""
         |int $nVar = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $nVar; $i++) {
         |  $s += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Argmax-cosine cell assignment: fold a (broadcast) cell-ascending
 * array<struct<cell_id long, cvec array<float|double>>> against a
 * vector column, returning the nearest cell's id (ties → smallest
 * cell_id). The IVF assignment hot path: one codegen'd loop per row
 * instead of a CodegenFallback higher-order aggregate re-walking an
 * interpreted lambda tree per cell — and the probe vector's norm hoists
 * out of the cell loop (same bits, computed once instead of nCells
 * times). Bit-identical to the HOF fold (LlmSpec).
 */
case class NearestCellExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def vecDouble: Boolean = isDoubleArr(left.dataType)
  private def centDouble: Boolean = right.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 2 =>
      isDoubleArr(fields(1).dataType)
    case _ => false
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    LlmExprs.nearestCell(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      vecDouble, centDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.LlmExprs.nearestCell($a, $b, $vecDouble, $centDouble)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Signed-random-hyperplane LSH bucket of a float-array column → long.
 * Weight w(j,i) = (((bitOffset+j)*131071 + i*8191 + 12345) mod 2000003)
 * - 1000001; bit j = [in-order double dot(w_j, x) > 0]. Identical to
 * TextFunctions.hyperplaneBucketAt and the oracle's nested fold.
 */
case class HyperplaneBucketExpr(child: Expression, nbits: Int, bitOffset: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LlmExprs.hyperplaneBucket(input.asInstanceOf[ArrayData], nbits, bitOffset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LlmExprs.hyperplaneBucket($c, $nbits, $bitOffset)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Unigram-LM (SentencePiece-family) Viterbi segmenter — the vocabulary
 * (piece → integer cost) plus the per-chunk dynamic program, shipped as
 * ONE codegen reference object so encode is scan-stage like the BPE
 * [[BpeCodec]] (no join against a vocabulary table, nothing shuffled).
 *
 * Determinism contract (what the DuckDB oracle replays CTE-for-CTE):
 *  - pre-tokenization: split text on single spaces, drop empties, cut
 *    each word into `chunkLen`-CODE-POINT chunks (graft.llm.Bpe
 *    .chunkWords semantics — a surrogate pair is one position, matching
 *    Spark's substring and DuckDB's character indexing);
 *  - per chunk, Viterbi over code-point positions: a piece of length
 *    l ≤ `maxPieceLen` ending at position j extends the best state at
 *    j−l; a single code point NOT in the vocabulary is admitted at
 *    `unkCost` (coverage can never fail), longer out-of-vocabulary
 *    substrings are not candidates;
 *  - states compare by (total cost ASC, piece count ASC, packed
 *    segmentation ASC in UTF-8 byte order) — exactly the oracle's
 *    `min(lpad(cost, 4) || lpad(np, 2) || seg)` over VARCHAR under
 *    binary collation, so every tie resolves identically on both
 *    engines. Costs are integer surprisal bits (bitlen(total) −
 *    bitlen(freq), the q113 `length(bin(n))` discipline) — no floats
 *    anywhere in learn or encode.
 */
final class UnigramCodec(val pieces: Array[String], val costs: Array[Long],
    val chunkLen: Int, val maxPieceLen: Int, val unkCost: Long)
    extends Serializable {

  @transient private lazy val cost: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i < pieces.length) {
      // duplicate pieces never happen in a learned vocabulary (singleton
      // and multi-char selections are disjoint); keep the first
      m.putIfAbsent(pieces(i), java.lang.Long.valueOf(costs(i)))
      i += 1
    }
    m
  }

  /** Cost of `p`, or Long.MaxValue when it is not in the vocabulary. */
  private def costOf(p: String): Long = {
    val v = cost.get(p)
    if (v == null) Long.MaxValue else v.longValue()
  }

  /** UTF-8 byte comparison (Spark UTF8String / DuckDB binary collation
    * order — NOT Java's UTF-16 compareTo, which ranks supplementary
    * planes below U+E000). Mirrors graft.llm.Bpe.utf8Ordering. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) {
      r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
  }

  /** Viterbi over ONE chunk `s[from, until)` (char offsets). Returns the
    * winning packed segmentation ("p1~p2~…") — piece count is its '~'
    * count + 1, so count and stream can never disagree. */
  private def viterbiChunk(s: String, from: Int, until: Int): String = {
    // code-point boundaries: off(i) = char offset of the i-th code point
    val off = new Array[Int](s.codePointCount(from, until) + 1)
    var cp = from
    var k = 0
    while (cp < until) {
      off(k) = cp
      cp += Character.charCount(s.codePointAt(cp))
      k += 1
    }
    off(k) = until
    val n = k
    val bCost = new Array[Long](n + 1)
    val bNp = new Array[Int](n + 1)
    val bSeg = new Array[String](n + 1)
    bSeg(0) = ""
    var j = 1
    while (j <= n) {
      var bestC = Long.MaxValue
      var bestN = Int.MaxValue
      var bestS: String = null
      var l = 1
      val lMax = math.min(j, maxPieceLen)
      while (l <= lMax) {
        val piece = s.substring(off(j - l), off(j))
        var pc = costOf(piece)
        if (pc == Long.MaxValue && l == 1) pc = unkCost
        if (pc != Long.MaxValue) {
          val cc = bCost(j - l) + pc
          val nn = bNp(j - l) + 1
          if (cc < bestC || (cc == bestC && nn < bestN)) {
            bestC = cc; bestN = nn
            bestS = if (bSeg(j - l).isEmpty) piece
              else bSeg(j - l) + "~" + piece
          } else if (cc == bestC && nn == bestN) {
            val cand = if (bSeg(j - l).isEmpty) piece
              else bSeg(j - l) + "~" + piece
            if (utf8Compare(cand, bestS) < 0) bestS = cand
          }
        }
        l += 1
      }
      bCost(j) = bestC; bNp(j) = bestN; bSeg(j) = bestS
      j += 1
    }
    bSeg(n)
  }

  /** Chunk boundaries of one word `s[i, j)`: every `chunkLen` code
    * points. Invokes `f` per chunk's (fromChar, untilChar). */
  private def foreachChunk(s: String, i: Int, j: Int,
      f: (Int, Int) => Unit): Unit = {
    var start = i
    while (start < j) {
      var cp = start
      var c = 0
      while (cp < j && c < chunkLen) {
        cp += Character.charCount(s.codePointAt(cp))
        c += 1
      }
      f(start, cp)
      start = cp
    }
  }

  /** Codegen entry: total Viterbi piece count of `text`. */
  def count(text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var total = 0L
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) foreachChunk(s, i, j, (a, b) => {
        val seg = viterbiChunk(s, a, b)
        var t = 1L
        var p = seg.indexOf('~')
        while (p >= 0) { t += 1; p = seg.indexOf('~', p + 1) }
        total += t
      })
      i = j + 1
    }
    total
  }

  /** Codegen entry: the document's full Viterbi token stream (document
    * order, multiplicity kept). Same per-chunk DP as [[count]]. */
  def tokens(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i <= n) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) foreachChunk(s, i, j, (a, b) => {
        viterbiChunk(s, a, b).split('~').foreach(p =>
          out += UTF8String.fromString(p))
      })
      i = j + 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native unigram-LM Viterbi token counter — scan-stage, codegen'd
  * (mirrors [[BpeCountExpr]]). Backs [[graft.llm.UnigramLm.tokenCount]]. */
case class UnigramCountExpr(child: Expression, codec: UnigramCodec)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    codec.count(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("ugCodec", codec, "graft.functions.UnigramCodec")
    defineCodeGen(ctx, ev, c => s"$c0.count($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The unigram segmenter's token STREAM as a native array expression —
  * [[UnigramCountExpr]]'s collecting sibling (both route through one
  * shared per-chunk Viterbi, so count and stream can never disagree). */
case class UnigramTokensExpr(child: Expression, codec: UnigramCodec)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    codec.tokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c0 = ctx.addReferenceObj("ugCodec", codec, "graft.functions.UnigramCodec")
    defineCodeGen(ctx, ev, c => s"$c0.tokens($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
