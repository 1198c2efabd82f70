package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * The unified lifecycle HEALTH DASHBOARD — one operator folding every
 * persisted index's `healthCheck` into a single long-format table
 * `(lifecycle, chk, ok, detail)`, one row per invariant: the scheduled-
 * monitor surface a fleet of index artifacts needs (SCALE.md's per-index
 * promise, delivered as one frame a job can land/alert on instead of
 * seven differently-shaped reports).
 *
 * Scope: INVARIANT checks only — the facts a serve path would throw on
 * (manifest/stamp agreement, content signatures, shape/formula
 * validity), each reported as a boolean with an optional model-sized
 * numeric `detail`. Profile METRICS (dedup band skew, decon dup-row
 * counts, classifier class masses) stay in the per-index healthChecks:
 * they are observability readings with corpus-dependent values, not
 * pass/fail invariants.
 *
 * Cost shape: every per-index healthCheck is model-sized by contract
 * (1 row, or ≤ bands rows for dedup), so collecting them driver-side
 * and emitting one literal frame is O(lifecycles) metadata work — no
 * corpus scan beyond what the healthChecks themselves read.
 *
 * Reference behavior: the reference exposes liveness/health over HTTP
 * (server/app/healthcheck.go); this is the analog for the engine's
 * persisted index artifacts.
 */
object IndexHealth {

  private[llm] final case class Check(chk: String, ok: Boolean,
      detail: Option[Long])

  private def flag(r: Row, chk: String, col: String): Check =
    Check(chk, r.getAs[Boolean](col), None)

  /** The index kinds the dashboard can fold; maps 1:1 onto the seven
    * persisted lifecycles. Each kind names its index's `healthCheck` and
    * melts that index's own checks (its "healthy" row included) from the
    * report rows; the manifest, stale and lease rows are shared. */
  sealed abstract class Kind private[llm] (
      private[llm] val report: (SparkSession, String) => DataFrame,
      private[llm] val own: Array[Row] => Seq[Check])

  case object Unigram extends Kind(UnigramIndex.healthCheck, rs => {
    val r = rs.head
    Seq(Check("n_stored", r.getAs[Boolean]("n_ok"),
        Some(r.getAs[Long]("n_stored"))),
      flag(r, "sig", "sig_ok"), flag(r, "unique", "unique_ok"),
      flag(r, "cost", "cost_ok"),
      Check("healthy", r.getAs[Boolean]("healthy"),
        Some(r.getAs[Long]("n_pieces"))))
  })
  case object BpeK extends Kind(BpeIndex.healthCheck, rs => {
    val r = rs.head
    Seq(Check("k", r.getAs[Boolean]("k_ok"), Some(r.getAs[Int]("k").toLong)),
      flag(r, "sep", "sep_ok"), flag(r, "sig", "sig_ok"),
      flag(r, "ranks", "ranks_ok"), flag(r, "pretok", "pretok_ok"),
      Check("healthy", r.getAs[Boolean]("healthy"),
        Some(r.getAs[Long]("n_merges"))))
  })
  case object Ivf extends Kind(IvfIndex.healthCheck, rs => Seq(
    Check("healthy", rs.head.getAs[Boolean]("healthy"),
      Some(rs.head.getAs[Long]("n_tables")))))
  /** One report row per LSH band; the index-wide columns repeat. */
  case object Dedup extends Kind(DedupIndex.healthCheck, rs => {
    val docs = rs.head.getAs[Long]("docs_indexed")
    Seq(Check("docs_indexed", docs > 0, Some(docs)),
      Check("bands", rs.length > 0, Some(rs.length.toLong)),
      Check("healthy", manifestOk(rs.head) && docs > 0, Some(docs)))
  })
  case object Decon extends Kind(DeconIndex.healthCheck, rs => Seq(
    Check("healthy", manifestOk(rs.head), None)))
  case object Dsir extends Kind(DsirIndex.healthCheck, rs => {
    val r = rs.head
    Seq(flag(r, "bins", "bins_ok"), flag(r, "range", "range_ok"),
      flag(r, "sig", "sig_ok"), flag(r, "tok", "tok_ok"),
      Check("healthy", r.getAs[Boolean]("healthy"),
        Some(r.getAs[Int]("buckets").toLong)))
  })
  case object Classifier extends Kind(ClassifierIndex.healthCheck, rs => {
    val r = rs.head
    Seq(Check("one_row", r.getAs[Boolean]("one_row"),
        Some(r.getAs[Long]("model_rows"))),
      flag(r, "sig", "sig_ok"),
      Check("healthy", r.getAs[Boolean]("healthy"),
        Some(r.getAs[Long]("threshold_permille"))))
  })

  private def manifestOk(r: Row): Boolean =
    r.getAs[Boolean]("has_manifest") && r.getAs[String]("stale_tables").isEmpty

  /** The rows every lifecycle shares: manifest presence, stale tables
    * (detail = how many), and the writer lease — ok = no LIVE lease
    * (quiescent index or a stale/crashed holder — either way a new
    * maintenance job could acquire); detail = holder age in seconds when
    * a lease file exists. A false lease row means a writer is active
    * RIGHT NOW — schedule-collision visibility the after-the-fact
    * stale/sig checks cannot give. */
  private def shared(spark: SparkSession, dir: String, r: Row): Seq[Check] = {
    val stale = r.getAs[String]("stale_tables")
    val lease = WriterLease.status(spark, dir)
    Seq(Check("manifest", r.getAs[Boolean]("has_manifest"), None),
      Check("stale", stale.isEmpty,
        Some(if (stale.isEmpty) 0L else stale.split(",").length.toLong)),
      Check("lease", !lease.live, lease.ageMs.map(_ / 1000)))
  }

  private def melt(spark: SparkSession, kind: Kind,
      dir: String): Seq[Check] = {
    val rows = kind.report(spark, dir).collect()
    require(rows.nonEmpty, s"index at '$dir' reported no health rows")
    shared(spark, dir, rows.head) ++ kind.own(rows)
  }

  /** Fold the given `(lifecycle, kind, dir)` triples into the dashboard
    * frame `(lifecycle, chk, ok, detail)`, (lifecycle, chk)-ordered.
    * `chk` not `check` — the natural name is a reserved word in ANSI
    * SQL, and this frame exists to be landed as a table. */
  def dashboard(spark: SparkSession,
      indexes: Seq[(String, Kind, String)]): DataFrame = {
    import spark.implicits._
    indexes.flatMap { case (lifecycle, kind, dir) =>
      melt(spark, kind, dir).map(c =>
        (lifecycle, c.chk, c.ok, c.detail))
    }.toDF("lifecycle", "chk", "ok", "detail")
      .orderBy("lifecycle", "chk")
  }
}
