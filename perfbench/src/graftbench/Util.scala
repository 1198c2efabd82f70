package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Small helpers: wall clock, order statistics, JSON text, files. */
object Util {

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution (monotone within
    * the JVM, aligned with `System.currentTimeMillis`). */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def timed[T](f: => T): (T, Double) = {
    val t0 = nowMs()
    val r = f
    (r, nowMs() - t0)
  }

  /** How many times a timed loop runs: `seconds` over the loop's nominal
    * duration on an idle 4-core machine, at least `min`. The count follows
    * from `--seconds` alone, not from the clock: rounds and chains keep
    * getting faster for minutes as the JVM warms, so a loop bound by the
    * clock would fit more of the faster ones on a faster host, and its
    * median would move with the count. */
  def reps(seconds: Double, nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)

  /** Median (mean of the two middle values for an even count). */
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile that still has at least ten samples beyond it:
    * p = 1 - 10/n, read as the nearest-rank value. With ten samples or
    * fewer there is no such percentile and the maximum is used.
    * Returns (value, percentile, sample count). */
  def tail(xs: collection.Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0, n)
    else {
      val p = 1.0 - 10.0 / n
      val rank = math.ceil(p * n).toInt.max(1)
      (s(rank - 1), 100.0 * p, n)
    }
  }

  // ------------------------------------------------------------ JSON text

  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Render nested Maps / Seqs / numbers / strings / booleans as JSON. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => q(other.toString)
  }

  def writeText(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** All regular files under `dir` whose name passes `keep`. */
  def filesUnder(dir: File, keep: String => Boolean): Seq[File] = {
    val out = mutable.ArrayBuffer.empty[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (keep(f.getName)) out += f
    walk(dir)
    out.toSeq
  }

  /** 64-bit FNV-1a over UTF-8 text, then a murmur finaliser: the
    * benchmark's own content hash, independent of any engine hash. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
