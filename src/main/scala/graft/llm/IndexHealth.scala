package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The unified lifecycle HEALTH DASHBOARD — one operator folding every
 * persisted index's check list into a single long-format table
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
 * One list per index: each index declares its invariants once, as the
 * named checks ([[IndexLifecycle.Check]]) its load path throws on, its
 * `adoptManifest` runs and its `healthCheck` renders; this folds that
 * same list, so a check reported here is a check the load path refuses.
 *
 * Cost shape: every check list is model-sized by contract (params plus
 * the index's small stored tables; dedup reads its ids count and band
 * keys), so emitting one literal frame is O(lifecycles) metadata work —
 * no corpus scan.
 *
 * Reference behavior: the reference exposes liveness/health over HTTP
 * (server/app/healthcheck.go); this is the analog for the engine's
 * persisted index artifacts.
 */
object IndexHealth {

  import IndexLifecycle.{Check, Health}

  /** The index kinds the dashboard can fold; maps 1:1 onto the seven
    * persisted lifecycles. Each kind names its index's check list — the
    * one its load path throws on and its `healthCheck` renders — with
    * the manifest, stale and healthy rows [[IndexLifecycle.health]]
    * appends. */
  sealed abstract class Kind private[llm] (
      private[llm] val health: (SparkSession, String) => Health)

  case object Unigram extends Kind(UnigramIndex.health)
  case object BpeK extends Kind(BpeIndex.health)
  case object Ivf extends Kind(IvfIndex.health)
  case object Dedup extends Kind(DedupIndex.health)
  case object Decon extends Kind(DeconIndex.health)
  case object Dsir extends Kind(DsirIndex.health)
  case object Classifier extends Kind(ClassifierIndex.health)

  /** Fold the given `(lifecycle, kind, dir)` triples into the dashboard
    * frame `(lifecycle, chk, ok, detail)`, (lifecycle, chk)-ordered: each
    * index's check list plus the writer-lease row
    * ([[IndexLifecycle.lease]]). `chk` not `check` — the natural name is
    * a reserved word in ANSI SQL, and this frame exists to be landed as a
    * table. */
  def dashboard(spark: SparkSession,
      indexes: Seq[(String, Kind, String)]): DataFrame = {
    import spark.implicits._
    indexes.flatMap { case (lifecycle, kind, dir) =>
      (kind.health(spark, dir).checks :+ IndexLifecycle.lease(spark, dir))
        .map { case Check(chk, ok, detail, _) => (lifecycle, chk, ok, detail) }
    }.toDF("lifecycle", "chk", "ok", "detail")
      .orderBy("lifecycle", "chk")
  }
}
