package graft

import graft.ops.Widen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** `Widen.scan`'s size-aware target: `ceil(bytes / ChunkBytes)` clamped to
  * `[1, defaultParallelism]`, applied only when the frame has fewer
  * partitions than that. A `range` frame's plan statistics are 8 bytes
  * per row, so its size in chunks is set exactly by its row count. */
class WidenSpec extends SparkSpec {

  private def ofChunks(chunks: Double, partitions: Int): DataFrame = {
    val df = spark.range(0L, (chunks * Widen.ChunkBytes / 8).toLong, 1L,
      partitions).toDF()
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ===
      BigInt((chunks * Widen.ChunkBytes).toLong))
    df
  }

  private def exchanges(df: DataFrame): Seq[Partitioning] =
    df.queryExecution.sparkPlan.collect {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }

  test("a frame of at most one chunk comes back unchanged, with no exchange") {
    for (chunks <- Seq(0.5, 1.0)) {
      val df = ofChunks(chunks, 1)
      val w = Widen.scan(df)
      assert(w eq df, s"$chunks chunks")
      assert(exchanges(w).isEmpty)
    }
  }

  test("a one-partition frame of k chunks is round-robined to min(k, defaultParallelism)") {
    val dp = spark.sparkContext.defaultParallelism
    for (k <- Seq(2, 3, dp + 5)) {
      val w = Widen.scan(ofChunks(k, 1))
      assert(exchanges(w) === Seq(RoundRobinPartitioning(math.min(k, dp))),
        s"$k chunks")
    }
  }

  test("a frame that already has the target partition count is untouched") {
    val dp = spark.sparkContext.defaultParallelism
    for (parts <- Seq(dp, dp + 2)) {
      val df = ofChunks(dp + 5, parts)
      val w = Widen.scan(df)
      assert(w eq df, s"$parts partitions")
      assert(exchanges(w).isEmpty)
    }
  }
}
