package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Shared local SparkSession for specs (one JVM-wide session via
 * getOrCreate; never stopped so suites can share it). Mirrors the
 * driver's session shape: UTC, small shuffle partitions.
 */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Bench.warnLogs(s)
    s
  }

  /** Smallest driver-generated dataset — correctness fixtures only. */
  val sfDir = "/root/testdata/sf0.001"
}
