package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Advisory WRITER LEASE for the persisted index lifecycles — the
 * PREVENTION layer in front of [[SwapManifest]]'s detection: the
 * healthChecks can tell you two builders interleaved (signature /
 * distinct-violation checks, after the damage), this makes the second
 * builder REFUSE up front. Every mutating entry point (build / append /
 * rebuild / compact across all seven lifecycles) runs inside
 * [[withLease]]:
 *
 *  - acquire = atomic create-if-absent of `_graft_lease` at the index
 *    root (one `FileSystem.create(…, overwrite = false)` — the same
 *    primitive every lock-file protocol uses; HDFS and local rename/
 *    create are atomic). A live foreign lease throws with the holder's
 *    job name and age.
 *  - staleness window = a crashed writer cannot hold the index forever:
 *    a lease older than `ttlMs` (default 30 min — generously above any
 *    single maintenance job on an index whose tables are model-sized)
 *    is deleted and re-acquired. The delete+create pair is not atomic;
 *    two recoverers racing CAN both proceed — the lease is advisory
 *    serialization for the overwhelmingly common failure (a scheduler
 *    double-fires a job while the previous run is alive), not a
 *    distributed lock service; the detection layer still backstops it.
 *  - release = owner-checked delete: losing a stale-recovery race must
 *    not delete the OTHER writer's live lease, so release only removes
 *    the file when it still carries this acquire's owner id.
 *
 * Readers (serve paths, healthChecks) never take the lease — an index
 * stays servable during maintenance; [[graft.pipeline.DirSwap]] already
 * keeps every read on a complete version.
 */
object WriterLease {

  val LeaseName = "_graft_lease"
  val DefaultTtlMs: Long = 30L * 60 * 1000

  final case class Lease(dir: String, owner: String, job: String, ts: Long)

  /** Dashboard-facing reading: is a lease file present, is it live
    * (age ≤ ttl), how old, and which job holds it. */
  final case class Status(present: Boolean, live: Boolean,
      ageMs: Option[Long], job: Option[String])

  private def parse(s: String): Map[String, String] =
    s.split("\n").iterator.filter(_.contains('=')).map { line =>
      val i = line.indexOf('=')
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  private def readLease(fs: FileSystem, p: Path): Option[Lease] =
    SwapManifest.readSmall(fs, p).map(parse).flatMap { kv =>
      for {
        owner <- kv.get("owner")
        job <- kv.get("job")
        ts <- kv.get("ts").flatMap(_.toLongOption)
      } yield Lease(p.getParent.toString, owner, job, ts)
    }

  /** Acquire the lease or throw. A malformed lease file (torn write)
    * counts as stale — it names no live owner to defer to. */
  def acquire(spark: SparkSession, dir: String, job: String,
      ttlMs: Long = DefaultTtlMs): Lease = {
    val fs = SwapManifest.fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) fs.mkdirs(root) // first build of a fresh dir
    val p = new Path(dir, LeaseName)
    val now = System.currentTimeMillis()
    if (fs.exists(p)) {
      readLease(fs, p) match {
        case Some(prev) if now - prev.ts <= ttlMs =>
          throw new IllegalStateException(
            s"writer lease on '$dir' is HELD by job '${prev.job}' " +
              s"(age ${(now - prev.ts) / 1000}s <= ttl ${ttlMs / 1000}s) — " +
              "a second concurrent builder would interleave writes the " +
              "healthChecks could only detect after the fact; wait for " +
              "the holder or investigate a hung job")
        case _ => // stale or malformed: recoverable
          fs.delete(p, false)
      }
    }
    val owner = java.util.UUID.randomUUID().toString
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"writer lease on '$dir': lost the acquire race — another " +
              "builder created the lease concurrently", e)
      }
    try out.write(s"job=$job\nowner=$owner\nts=$now\n".getBytes("UTF-8"))
    finally out.close()
    Lease(dir, owner, job, now)
  }

  /** Owner-checked release (no-op when the file is gone or was taken
    * over by a stale-recovering peer). */
  def release(spark: SparkSession, lease: Lease): Unit = {
    val fs = SwapManifest.fsOf(spark, lease.dir)
    val p = new Path(lease.dir, LeaseName)
    if (readLease(fs, p).exists(_.owner == lease.owner)) fs.delete(p, false)
  }

  /** Run `body` under the lease; always releases (owner-checked). */
  def withLease[A](spark: SparkSession, dir: String, job: String,
      ttlMs: Long = DefaultTtlMs)(body: => A): A = {
    val l = acquire(spark, dir, job, ttlMs)
    try body finally release(spark, l)
  }

  def status(spark: SparkSession, dir: String,
      ttlMs: Long = DefaultTtlMs): Status = {
    val fs = SwapManifest.fsOf(spark, dir)
    val p = new Path(dir, LeaseName)
    if (!fs.exists(p)) Status(present = false, live = false, None, None)
    else readLease(fs, p) match {
      case Some(l) =>
        val age = System.currentTimeMillis() - l.ts
        Status(present = true, live = age <= ttlMs, Some(age), Some(l.job))
      case None => // malformed: present but names no live owner
        Status(present = true, live = false, None, None)
    }
  }
}
