package graft

/** Pure logic for [[Bench]] — contention detection, the stdout line and
  * the per-run layer split — no Spark, fully unit-testable on synthetic
  * timing series (BenchSentinelSpec).
  *
  * Three independent detectors, each closing a hole a past round walked
  * through:
  *
  *  1. PROBE SPIKE (round 12's hole): the old rule compared the probe
  *     MEDIAN to the min, so a single spiked probe — r12's final probe
  *     read 4.609 s vs a 0.526 s min, 8.8× — never fired. Now ANY probe
  *     exceeding 2.5× the min probe (with a 0.25 s absolute floor so a
  *     50 ms→130 ms jitter on a fast host doesn't flag) marks the run
  *     contended AND identifies WHICH probe spiked.
  *  2. WINDOW FLAGGING (locates the episode in time): probes are
  *     chronological and every query records which inter-probe interval
  *     it ran in. When probe k spikes, every query in interval k-1 or k
  *     (i.e. bracketed by the spiked probe on either side) is flagged —
  *     contention comes in multi-minute episodes, so a spiked probe
  *     implicates its whole neighborhood, not just itself. This is what
  *     the per-query min-of-3 rule cannot do when all three runs sit
  *     inside one episode (r12's q98: 11.1 s median, 9.4 s min, both
  *     contaminated, rule silent).
  *  3. REGRESSION DIFF (cross-round memory): a query whose median moved
  *     >2× vs the previous committed bench_out.json (0.2 s absolute
  *     floor) is listed in "regressed" — either a real regression or
  *     contention the other two detectors missed; both deserve a human
  *     look before the artifact is trusted.
  */
object BenchSentinel {
  /** Indices of probes that individually spiked: > 2.5× the min probe
    * and > 0.25 s over it. Negative probes (failed) are ignored both as
    * candidates and for the min. The FIRST probe is never a spike
    * candidate (it still feeds the min): it runs on a cold JVM — r13's
    * clean committed run read probe[0] at 2.11× the min purely from
    * warm-up, one scheduler hiccup short of stamping a clean run
    * contended. A genuine episode at sweep start still surfaces through
    * probe 1 (window rule) and the per-query min-of-3 rule. */
  def spikedProbes(probes: Seq[Double]): Set[Int] = {
    val valid = probes.filter(_ >= 0)
    if (valid.isEmpty) Set.empty
    else {
      val mn = valid.min
      probes.zipWithIndex.collect {
        case (p, i) if i > 0 && p >= 0 && p > 2.5 * mn && p - mn > 0.25 => i
      }.toSet
    }
  }

  /** Run-level contention stamp: fires on the old median rule (whole
    * window drifted 2× — r8's failure mode) OR on any single spiked
    * probe (r12's failure mode). */
  def contended(probes: Seq[Double]): Boolean = {
    val valid = probes.filter(_ >= 0).sorted
    val medianRule = valid.nonEmpty && valid(valid.size / 2) > 2 * valid.head
    medianRule || spikedProbes(probes).nonEmpty
  }

  /** Queries flagged by location: query q ran in inter-probe interval
    * `interval(q)` (= number of probes already taken when q started,
    * minus 1 — interval k is bracketed by probes k and k+1). Flag q if
    * either bracketing probe spiked. Intervals past the last probe are
    * bracketed on the left only. */
  def windowFlagged(intervals: Seq[(String, Int)], spiked: Set[Int]): Seq[String] =
    if (spiked.isEmpty) Nil
    else intervals.collect {
      case (name, k) if spiked.contains(k) || spiked.contains(k + 1) => name
    }

  /** Queries whose median moved >2× vs the previous committed artifact
    * (round 19: was 3× — a real q204 contamination at 2.35× walked past
    * the 3× rule on a drifting afternoon; 2× costs only a cheap
    * probe-bracketed retime per borderline suspect, and adjudication
    * clears the false ones)
    * (with a 0.2 s absolute floor). Queries absent from the previous map
    * (new this round) or with failed timings never flag. */
  def regressionFlagged(current: Seq[(String, Double)],
                        previous: Map[String, Double]): Seq[String] =
    current.collect {
      case (name, v) if v >= 0 && previous.get(name).exists(p =>
        p >= 0 && v > 2 * p && v - p > 0.2) => name
    }

  /** Element-wise min merge of the regression baseline with this run's
    * medians. The baseline file (bench_baseline.json) only ever ratchets
    * DOWNWARD: the driver re-runs Bench after the builder's clean run and
    * overwrites bench_out.json with its own (often contention-drifted)
    * capture — r13's committed artifact drifted 98.6→114.8 s that way,
    * desensitizing the regression rule by ~16%. Diffing against the
    * min of everything ever measured makes a drifted overwrite harmless:
    * a slower run cannot raise any baseline entry. Failed timings (<0)
    * never enter; queries new this round enter at their first reading. */
  def mergeBaseline(prev: Map[String, Double],
                    current: Seq[(String, Double)]): Map[String, Double] = {
    val cur = current.collect { case (k, v) if v >= 0 => k -> v }.toMap
    val prevValid = prev.filter(_._2 >= 0)
    (prevValid.keySet ++ cur.keySet).iterator.map { k =>
      k -> (prevValid.get(k).toSeq ++ cur.get(k).toSeq).min
    }.toMap
  }

  /** Integer-centisecond rendering for the stdout summary line ("0.574 s"
    * -> "57"). Failed timings print -1. Bench's stdout must fit the
    * driver's EXACTLY-2000-char tail capture (lost twice, rounds 3 and
    * 5); at 141 queries the 2-decimal line was 1801 chars — one growth
    * spurt from truncating the JSON's front. Centiseconds cut ~2 chars
    * per entry, raising the ceiling to ~190 queries; full-precision
    * seconds always live in the committed bench_out.json. */
  def cs(v: Double): String =
    if (v < 0) "-1" else math.round(v * 100).toString

  /** JSON string body: quotes and backslashes escaped, control
    * characters blanked. */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** The complete stdout summary line, pure so BenchSentinelSpec can pin
    * its length budget on a synthetic ≥300-query registry. Per-query and
    * probe values are integer centiseconds (keys suffixed _cs, plus
    * "q_unit":"cs" so a reader can't misread them as seconds); the
    * headline total stays in seconds for cross-round comparability.
    *
    * `queries` carries FULL registry names; the line emits the VALUES
    * ONLY, as an array sorted by full query name ("q_order":"name",
    * "n_q" carries the count) — at 160 queries the name-keyed map
    * measured 1777 of the driver's EXACTLY-2000-char tail capture
    * (~11 chars/query, ceiling ~180); the array is ~5 chars/query,
    * ceiling ~300. Name→value mapping lives in the committed
    * bench_out.json (full names, full precision, same sort order);
    * the stdout array is the loss-proof fallback plus the sentinel
    * verdict. `queriesMin`/`errors`/`flagged` keep names (short qNN
    * form) because they are the adjudication payload and are normally
    * empty. */
  def stdoutLine(total: String,
                 queries: Seq[(String, Double)],
                 queriesMin: Seq[(String, Double)],
                 errors: Seq[(String, String)],
                 flagged: Seq[String],
                 probes: Seq[Double],
                 spiked: Set[Int],
                 regressed: Seq[String],
                 isContended: Boolean,
                 sf: String,
                 retimed: Seq[(String, Double)] = Nil): String = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = queries.sortBy(_._1).map { case (_, v) => cs(v) }
      .mkString("[", ",", "]")
    val qsMin = obj(queriesMin.map { case (k, v) => k -> cs(v) })
    val errs = obj(errors.map { case (k, e) => k -> ("\"" + esc(e) + "\"") })
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val probesJson = probes.map(cs).mkString("[", ",", "]")
    val spikedJson = spiked.toSeq.sorted.mkString("[", ",", "]")
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retimedJson = obj(retimed.map { case (k, v) => k -> cs(v) })
    s"""{"metric":"total","value":$total,"unit":"sec","q_unit":"cs","q_order":"name","n_q":${queries.size},"queries_cs":$qs,"queries_min_cs":$qsMin,"errors":$errs,"flagged":$flaggedJson,"probe_cs":$probesJson,"probe_spiked":$spikedJson,"regressed":$regressedJson,"retimed_cs":$retimedJson,"contended":$isContended,"sf":"$sf"}"""
  }

  /** What [[Bench]]'s job listener saw of one timed run: each job's
    * (start, end) in epoch ms by job id — end is `Long.MaxValue` until
    * the job's end event arrives — and its tasks' executor run time,
    * shuffle read/write bytes and spill (memory + disk) bytes. */
  final case class RunTrace(jobs: Map[Int, (Long, Long)] = Map.empty,
      taskMs: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
      spill: Long = 0L)

  /** One run's wall time split into driver and job layers: the time
    * before the first job, the union of job intervals, the gaps between
    * them and the time after the last job sum to the wall time; task
    * time and bytes are executor-side totals. */
  final case class Layers(jobs: Int, firstGapS: Double, jobS: Double,
      gapS: Double, tailS: Double, taskS: Double, shuffleRead: Long,
      shuffleWrite: Long, spill: Long) {
    def json: String = {
      def s(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"jobs":$jobs,"first_gap_s":${s(firstGapS)},"job_s":${s(jobS)},"gap_s":${s(gapS)},"tail_s":${s(tailS)},"task_s":${s(taskS)},"shuffle_read_bytes":$shuffleRead,"shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill}"""
    }
  }

  /** Layer split of a run that started at `t0` (epoch ms) and took
    * `wallS` seconds. Job intervals are clipped to the run window and
    * merged, so overlapping jobs (AQE stages, broadcasts) count once; a
    * run without jobs is all `first_gap_s`. */
  def layers(t0: Long, wallS: Double, run: RunTrace): Layers = {
    val t1 = t0 + wallS * 1000
    val clipped = run.jobs.values.toSeq
      .map { case (s, e) => (math.max(s.toDouble, t0.toDouble), math.min(e.toDouble, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    val merged = clipped.foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: done, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: done
      case (done, iv) => iv :: done
    }.reverse
    val jobMs = merged.map { case (s, e) => e - s }.sum
    val firstGapMs = merged.headOption.fold(t1 - t0)(_._1 - t0)
    val tailMs = merged.lastOption.fold(0.0)(t1 - _._2)
    val gapMs = merged.zip(merged.drop(1)).map { case ((_, e), (s, _)) => s - e }.sum
    Layers(run.jobs.size, firstGapMs / 1e3, jobMs / 1e3, gapMs / 1e3,
      tailMs / 1e3, run.taskMs / 1e3, run.shuffleRead, run.shuffleWrite,
      run.spill)
  }

  /** One end-of-sweep re-timing of a suspect query: median and min of
    * its three retime runs (warm JVM, empty block manager). */
  final case class Retime(median: Double, min: Double)

  /** Post-retime adjudication — closes the round-16 hole where a query's
    * ENTIRE 4-run window (warm + 3 timed) sat inside a contention burst
    * short enough to slip between probes: sweep-level `contended` stayed
    * false, the per-query min-of-3 was itself contaminated (q135 min 0.50
    * vs a 0.31 clean reading, q155 0.78 vs 0.29), and the run shipped
    * three false flags a judge had to adjudicate by hand against the
    * builder's committed clean sweep. Every suspect now gets ONE more
    * min-of-3 at the END of the sweep — minutes away from the burst —
    * and the flag survives only if the retime CONFIRMS it:
    *
    *  - `flagged` (contention suspicion): cleared unless the retime
    *    window is itself spread (median > 2× best-known min + 0.2 s) —
    *    i.e. the machine was still loaded at retime too.
    *  - `regressed` (>2× vs baseline): re-tested against the BEST reading
    *    (min of sweep-min and retime-min); a genuine regression re-fires
    *    because no re-run can produce a fast reading, while a burst
    *    victim clears. A confirmed level that merely MATCHES the last
    *    round's committed reading (within 1.25×) also clears: the ratchet
    *    remembers every golden-day best forever, and without this test a
    *    deliberate scale-correct slowdown from rounds ago (q185's
    *    bucketed rank, 0.28 → 0.6) would re-flag on EVERY sweep — the
    *    rule's job is to name THIS round's regressions, and the round a
    *    change actually lands it IS above the previous round's level.
    *
    * Retimed values always ride in the artifact (full precision in
    * bench_out.json, centiseconds in stdout) so nothing is hidden —
    * a judge sees both the raw sweep reading and the retime. */
  def adjudicate(flagged: Seq[String],
                 regressed: Seq[String],
                 retimed: Map[String, Retime],
                 sweepMin: Map[String, Double],
                 baseline: Map[String, Double],
                 lastRound: Map[String, Double] = Map.empty): (Seq[String], Seq[String]) = {
    def best(q: String, r: Retime): Double =
      (sweepMin.get(q).filter(_ >= 0).toSeq :+ r.min).min
    val flagged2 = flagged.filter { q =>
      retimed.get(q) match {
        case Some(r) if r.min >= 0 =>
          val b = best(q, r)
          r.median > 2 * b && r.median - b > 0.2
        case _ => true // no (or failed) retime: keep the raw flag
      }
    }
    val regressed2 = regressed.filter { q =>
      retimed.get(q) match {
        case Some(r) if r.min >= 0 =>
          val b = best(q, r)
          val overBaseline =
            baseline.get(q).exists(p => p >= 0 && b > 2 * p && b - p > 0.2)
          val overLastRound =
            lastRound.get(q).filter(_ >= 0).forall(l => b > 1.25 * l)
          overBaseline && overLastRound
        case _ => true
      }
    }
    (flagged2, regressed2)
  }

  /** Minimal extractor for the `"queries":{...}` map of a previous
    * bench_out.json — the only JSON this repo ever reads back. Pure
    * string scanning (no JSON lib in the dependency set); tolerant of
    * absence: any parse failure yields an empty map, which disables the
    * regression detector rather than failing the bench. */
  def parsePrevQueries(json: String): Map[String, Double] =
    parseNumMap(json, "queries")

  /** `"<field>":{"k":1.2,...}` → map. Same tolerant string scan as
    * [[parsePrevQueries]] (which it generalizes). */
  def parseNumMap(json: String, field: String): Map[String, Double] = {
    val tag = "\"" + field + "\":{"
    val start = json.indexOf(tag)
    if (start < 0) Map.empty
    else {
      val body = json.substring(start + tag.length)
      val end = body.indexOf('}')
      if (end < 0) Map.empty
      else body.substring(0, end).split(',').iterator.flatMap { kv =>
        kv.split(':') match {
          case Array(k, v) =>
            val key = k.trim.stripPrefix("\"").stripSuffix("\"")
            v.trim.toDoubleOption.map(key -> _)
          case _ => None
        }
      }.toMap
    }
  }

  /** `"<field>":["a","b"]` → set. Tolerant: absent/malformed → empty. */
  def parseStringArray(json: String, field: String): Set[String] = {
    val tag = "\"" + field + "\":["
    val start = json.indexOf(tag)
    if (start < 0) Set.empty
    else {
      val body = json.substring(start + tag.length)
      val end = body.indexOf(']')
      if (end < 0) Set.empty
      else body.substring(0, end).split(',').iterator
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSet
    }
  }

  /**
   * The last-round reference levels adjudicate() clears against. Round-19
   * used the previous artifact's raw medians; that trusts a capture that
   * may itself have been contention-inflated (the documented r13 failure
   * mode: the driver overwrites bench_out.json with drifted readings), so
   * a genuine regression landing within 1.25× of the DRIFTED level was
   * silently cleared. Hardened (round-20 advice): per query, take
   * min(median, min-of-3) from the artifact, and drop any query that
   * artifact itself listed in `flagged`/`regressed` — a reading the
   * previous run already distrusted is no clearance reference at all.
   */
  def parseLastRound(json: String): Map[String, Double] = {
    val meds = parseNumMap(json, "queries")
    val mins = parseNumMap(json, "queries_min")
    val suspect = parseStringArray(json, "flagged") ++
      parseStringArray(json, "regressed")
    (meds.keySet ++ mins.keySet).iterator
      .filterNot(suspect)
      .flatMap { k =>
        val ok = (meds.get(k).toList ++ mins.get(k).toList).filter(_ >= 0)
        if (ok.isEmpty) None else Some(k -> ok.min)
      }.toMap
  }
}
