package graft

import graft.queries.Registry
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/**
 * Byte pin of every DuckDB oracle string. The oracles are the
 * correctness check for the registry queries, so a refactor of the
 * builders that assemble them must reproduce each string exactly:
 * `oracle_sql.sha256` holds the SHA-256 of every `Registry.oracleSql`
 * entry (`sha256sum` format, sorted by name). A string whose bytes
 * change on purpose gets its golden line updated in the same commit.
 */
class OracleSqlPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val golden: Map[String, String] = {
    val src = Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(hash, name) = line.split("  ", 2)
      name -> hash
    }.toMap
    finally src.close()
  }

  test("every oracle string matches its golden SHA-256 byte for byte") {
    val now = Registry.oracleSql.map { case (n, sql) => n -> sha256(sql) }
    val missing = (golden.keySet -- now.keySet).toSeq.sorted
    val extra = (now.keySet -- golden.keySet).toSeq.sorted
    val changed = now.keySet.intersect(golden.keySet)
      .filter(n => now(n) != golden(n)).toSeq.sorted
    val report = Seq("missing" -> missing, "extra" -> extra, "changed" -> changed)
      .collect { case (k, ns) if ns.nonEmpty => s"$k: ${ns.mkString(", ")}" }
    assert(report.isEmpty, report.mkString("; "))
    assert(golden.size == 243)
  }
}
