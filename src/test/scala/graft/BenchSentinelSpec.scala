package graft

import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

/** Pure unit tests for the bench contention sentinel — synthetic timing
  * series only, no Spark. The round-12 series (judge-adjudicated
  * contaminated yet self-labeled clean) is replayed verbatim as the
  * regression anchor. */
class BenchSentinelSpec extends AnyFunSuite {

  // ---- probe spike rule -------------------------------------------------

  test("round-12 probe series fires: final probe 4.609 vs min 0.526") {
    // The actual driver probe series from BENCH_r12.json (chronological).
    val r12 = Seq(0.526, 0.590, 0.570, 0.561, 0.552, 0.533, 0.558, 0.645, 0.526, 4.609)
    assert(BenchSentinel.spikedProbes(r12) === Set(9))
    assert(BenchSentinel.contended(r12))
  }

  test("clean probe series stays silent") {
    val clean = Seq(0.55, 0.60, 0.52, 0.58, 0.61, 0.54)
    assert(BenchSentinel.spikedProbes(clean).isEmpty)
    assert(!BenchSentinel.contended(clean))
  }

  test("fast-host jitter under the 0.25 s floor does not flag") {
    // 0.05 -> 0.14 is 2.8x but only +0.09 s — scheduler jitter, not load.
    val jitter = Seq(0.05, 0.14, 0.06, 0.07)
    assert(BenchSentinel.spikedProbes(jitter).isEmpty)
    assert(!BenchSentinel.contended(jitter))
  }

  test("whole-window drift still fires via the median rule") {
    // r8's failure mode: every probe elevated, no single spike vs min.
    // 1.2 > 2 * 0.5 median rule fires even though 1.3/0.5 = 2.6 is the
    // only single-spike candidate.
    val drifted = Seq(0.5, 1.2, 1.25, 1.3, 1.2)
    assert(BenchSentinel.contended(drifted))
  }

  test("failed probes (-1) are ignored for min and never spike") {
    val withFail = Seq(-1.0, 0.5, 0.52, -1.0, 0.55)
    assert(BenchSentinel.spikedProbes(withFail).isEmpty)
    assert(!BenchSentinel.contended(withFail))
    // and a real spike is still detected at its raw index
    assert(BenchSentinel.spikedProbes(Seq(-1.0, 0.5, 3.0)) === Set(2))
  }

  test("multiple spikes all reported") {
    val multi = Seq(0.5, 2.0, 0.52, 0.51, 4.0)
    assert(BenchSentinel.spikedProbes(multi) === Set(1, 4))
  }

  test("cold first probe is never a spike candidate (r13 warm-up shape)") {
    // r13's clean committed run: probe[0] = 2.11x min from JVM warm-up
    // alone. Scaled slightly worse (2.7x) it must STILL not flag — the
    // first probe always runs cold and is excluded from candidacy.
    val warmup = Seq(1.49, 0.57, 0.55, 0.58, 0.60, 0.57)
    assert(BenchSentinel.spikedProbes(warmup).isEmpty)
    assert(!BenchSentinel.contended(warmup))
    // ...but the same 2.7x value at any LATER index fires as before.
    val later = Seq(0.57, 0.55, 1.49, 0.58, 0.60, 0.57)
    assert(BenchSentinel.spikedProbes(later) === Set(2))
  }

  // ---- window flagging --------------------------------------------------

  test("queries bracketed by a spiked probe are flagged, others are not") {
    // probes p0 p1 p2 p3; q in interval k is bracketed by p_k and p_{k+1}.
    val intervals = Seq("qa" -> 0, "qb" -> 0, "qc" -> 1, "qd" -> 2, "qe" -> 2)
    // p2 spiked -> interval 1 (right bracket) and interval 2 (left bracket)
    assert(BenchSentinel.windowFlagged(intervals, Set(2)) === Seq("qc", "qd", "qe"))
    // p0 spiked -> only interval 0 (p0 is its left bracket; interval -1 empty)
    assert(BenchSentinel.windowFlagged(intervals, Set(0)) === Seq("qa", "qb"))
    // no spikes -> nothing
    assert(BenchSentinel.windowFlagged(intervals, Set.empty) === Nil)
  }

  test("round-12 shape: FINAL probe spike implicates the last interval") {
    // 10 probes (indices 0..9), final spiked; queries in the last
    // interval (8) are bracketed by probes 8 and 9 -> flagged. This is
    // exactly the r12 q98/q99/q105 neighborhood the old rules missed.
    val intervals = Seq("q97" -> 7, "q98" -> 8, "q99" -> 8, "q105" -> 8)
    assert(BenchSentinel.windowFlagged(intervals, Set(9)) === Seq("q98", "q99", "q105"))
  }

  // ---- regression diff --------------------------------------------------

  test("2x move vs previous artifact flags; new and small moves do not") {
    val prev = Map("q01" -> 0.5, "q02" -> 0.1, "q03" -> 2.0)
    val cur = Seq(
      "q01" -> 1.9,  // 3.8x and +1.4 s -> flag
      "q02" -> 0.25, // 2.5x but only +0.15 s (under the absolute floor) -> no
      "q03" -> 2.2,  // small move -> no
      "q05" -> 4.5,  // 2.25x and +2.5 s -> flag (the q204 case: 2.35x
                     // contamination walked past the old 3x rule)
      "q04" -> 9.9)  // new query -> no baseline -> no
    val prev2 = prev + ("q05" -> 2.0)
    assert(BenchSentinel.regressionFlagged(cur, prev2) === Seq("q01", "q05"))
  }

  test("failed timings never flag as regression") {
    assert(BenchSentinel.regressionFlagged(Seq("q01" -> -1.0), Map("q01" -> 0.2)) === Nil)
  }

  test("sub-floor absolute moves never flag even at high ratio") {
    // 0.01 -> 0.15 is 15x but +0.14 s < 0.2 s floor.
    assert(BenchSentinel.regressionFlagged(Seq("q01" -> 0.15), Map("q01" -> 0.01)) === Nil)
  }

  // ---- baseline ratchet --------------------------------------------------

  test("mergeBaseline takes the element-wise min and never ratchets up") {
    val prev = Map("q01" -> 0.5, "q02" -> 1.0, "q03" -> 2.0)
    val cur = Seq(
      "q01" -> 0.4,  // faster -> ratchets down
      "q02" -> 3.0,  // drifted driver run -> baseline keeps 1.0
      "q04" -> 0.7,  // new query -> enters at first reading
      "q05" -> -1.0) // failed -> never enters
    assert(BenchSentinel.mergeBaseline(prev, cur) ===
      Map("q01" -> 0.4, "q02" -> 1.0, "q03" -> 2.0, "q04" -> 0.7))
  }

  test("mergeBaseline drops invalid previous entries and handles empties") {
    assert(BenchSentinel.mergeBaseline(Map("q01" -> -1.0), Seq("q01" -> 0.3)) ===
      Map("q01" -> 0.3))
    assert(BenchSentinel.mergeBaseline(Map.empty, Nil) === Map.empty)
  }

  // ---- stdout line budget -------------------------------------------------

  test("cs renders integer centiseconds, -1 for failures") {
    assert(BenchSentinel.cs(0.574) === "57")
    assert(BenchSentinel.cs(12.345) === "1235")  // rounds, not truncates
    assert(BenchSentinel.cs(0.0) === "0")
    assert(BenchSentinel.cs(-1.0) === "-1")
  }

  test("a 300-query stdout line fits the driver's 2000-char tail capture") {
    // Synthetic registry nearly double today's 160 queries, with realistic
    // FULL names (the line elides them — only the sort uses them),
    // realistic values (most sub-second, a tail of multi-second ones) and
    // a full probe ladder. Must stay under 1900 chars — 100 chars of
    // slack for the driver's pre-JSON log lines inside its 2000 capture.
    val queries = (1 to 300).map(i =>
      (f"q$i%03d_some_operator_name", if (i % 13 == 0) 6.38 else 0.57))
    val probes = Seq.fill(20)(0.58)
    val line = BenchSentinel.stdoutLine(
      total = "118.4", queries = queries, queriesMin = Nil, errors = Nil,
      flagged = Nil, probes = probes, spiked = Set.empty, regressed = Nil,
      isContended = false, sf = "/root/testdata/sf0.1")
    assert(line.length < 1900, s"stdout line is ${line.length} chars")
    // and it is well-formed enough for the judge's reader: key fields present
    assert(line.startsWith("""{"metric":"total","value":118.4,"unit":"sec""""))
    assert(line.contains(""""q_unit":"cs""""))
    assert(line.contains(""""q_order":"name","n_q":300"""))
    assert(line.contains(""""queries_cs":[57,57,57,57,57,57,57,57,57,57,57,57,638,"""))
    assert(line.endsWith(""""sf":"/root/testdata/sf0.1"}"""))
  }

  test("stdoutLine's queries_cs array is sorted by FULL query name") {
    // q16_x sorts AFTER q160_y on full names ('_' > '0') — the array
    // order must match bench_out.json's name-sorted map, not the short
    // qNN order a reader might assume.
    val line = BenchSentinel.stdoutLine(
      total = "1", queries = Seq(("q16_x", 0.10), ("q160_y", 0.20)),
      queriesMin = Nil, errors = Nil, flagged = Nil, probes = Seq(0.5),
      spiked = Set.empty, regressed = Nil, isContended = false, sf = "sf")
    assert(line.contains(""""queries_cs":[20,10]"""))
  }

  test("stdoutLine escapes error payloads and carries sentinel fields") {
    val line = BenchSentinel.stdoutLine(
      total = "1.2", queries = Seq(("q01", 0.5)), queriesMin = Seq(("q02", 0.3)),
      errors = Seq(("q02", "Boom: \"quoted\"\npath\\x")),
      flagged = Seq("q02"), probes = Seq(0.5, 1.6), spiked = Set(1),
      regressed = Seq("q03"), isContended = true, sf = "sf")
    assert(line.contains(""""errors":{"q02":"Boom: \"quoted\" path\\x"}"""))
    assert(line.contains(""""probe_cs":[50,160]"""))
    assert(line.contains(""""probe_spiked":[1]"""))
    assert(line.contains(""""regressed":["q03"]"""))
    assert(line.contains(""""contended":true"""))
  }

  // ---- end-of-sweep retime adjudication ----------------------------------

  test("r16 shape: burst-victim flags clear when the retime reads clean") {
    // q135/q155 sweep readings were contaminated (median 1.10/1.72, min
    // 0.50/0.78) by a burst between probes; their retimes read at the
    // clean level (0.31/0.29). Both the contention flag and the >3x
    // regression flag must clear; the genuine regression below must not.
    val retimed = Map(
      "q135" -> BenchSentinel.Retime(0.31, 0.30),
      "q155" -> BenchSentinel.Retime(0.29, 0.27),
      "q999" -> BenchSentinel.Retime(2.10, 2.05)) // real 8x regression
    val sweepMin = Map("q135" -> 0.50, "q155" -> 0.78, "q999" -> 2.2)
    val baseline = Map("q135" -> 0.247, "q155" -> 0.238, "q999" -> 0.25)
    val (f, r) = BenchSentinel.adjudicate(
      flagged = Seq("q135", "q155"),
      regressed = Seq("q135", "q155", "q999"),
      retimed = retimed, sweepMin = sweepMin, baseline = baseline)
    assert(f === Nil)
    assert(r === Seq("q999"))
  }

  test("a confirmed slow level matching LAST round's committed reading is not re-flagged") {
    // q185's shape (round 19): the ratchet holds a golden-day 0.281 from
    // before the bucketed-rank rework; the current confirmed level is
    // ~0.62 — 2.2x the best-ever but 1.05x last round's committed
    // reading. The regression rule names THIS round's regressions; an
    // inherited level must not re-flag on every future sweep.
    val retimed = Map("q185" -> BenchSentinel.Retime(0.88, 0.84))
    val (_, r) = BenchSentinel.adjudicate(
      Nil, Seq("q185"), retimed, sweepMin = Map("q185" -> 0.62),
      baseline = Map("q185" -> 0.281), lastRound = Map("q185" -> 0.591))
    assert(r === Nil)
    // the same confirmed level WITHOUT a matching prior round (a genuine
    // this-round move) stays flagged
    val (_, r2) = BenchSentinel.adjudicate(
      Nil, Seq("q185"), retimed, sweepMin = Map("q185" -> 0.62),
      baseline = Map("q185" -> 0.281))
    assert(r2 === Seq("q185"))
  }

  test("a still-contended retime window keeps the flag") {
    // Retime median 2.6x over the best-known min and +0.9 s: the machine
    // was still loaded at retime — nothing proven, flag survives.
    val retimed = Map("q01" -> BenchSentinel.Retime(1.50, 1.40))
    val (f, _) = BenchSentinel.adjudicate(
      Seq("q01"), Nil, retimed, sweepMin = Map("q01" -> 0.55), baseline = Map.empty)
    assert(f === Seq("q01"))
  }

  test("missing or failed retime keeps raw flags (fail-closed)") {
    val failed = Map("q02" -> BenchSentinel.Retime(-1.0, -1.0))
    val (f, r) = BenchSentinel.adjudicate(
      Seq("q01", "q02"), Seq("q01"), failed,
      sweepMin = Map("q01" -> 0.5, "q02" -> 0.5),
      baseline = Map("q01" -> 0.1))
    assert(f === Seq("q01", "q02"))
    assert(r === Seq("q01"))
  }

  test("stdoutLine carries retimed_cs; empty by default") {
    val line = BenchSentinel.stdoutLine(
      total = "1", queries = Seq(("q01", 0.5)), queriesMin = Nil,
      errors = Nil, flagged = Nil, probes = Seq(0.5), spiked = Set.empty,
      regressed = Nil, isContended = false, sf = "sf",
      retimed = Seq(("q135", 0.307)))
    assert(line.contains(""""retimed_cs":{"q135":31}"""))
    val empty = BenchSentinel.stdoutLine(
      total = "1", queries = Seq(("q01", 0.5)), queriesMin = Nil,
      errors = Nil, flagged = Nil, probes = Seq(0.5), spiked = Set.empty,
      regressed = Nil, isContended = false, sf = "sf")
    assert(empty.contains(""""retimed_cs":{}"""))
  }

  // ---- per-run layer split -----------------------------------------------

  private def sumOf(l: BenchSentinel.Layers) = l.firstGapS + l.jobS + l.gapS + l.tailS

  test("layers: overlapping jobs count once; gaps, first gap and tail split the rest") {
    // run 1000..3000 ms; jobs 1100-1500 and 1300-1700 overlap (union
    // 1100-1700), then a 300 ms gap before 2000-2400
    val run = BenchSentinel.RunTrace(
      jobs = Map(1 -> (1100L, 1500L), 2 -> (1300L, 1700L), 3 -> (2000L, 2400L)),
      taskMs = 5200, shuffleRead = 10, shuffleWrite = 20, spill = 30)
    val l = BenchSentinel.layers(1000L, 2.0, run)
    assert(l.jobs === 3)
    assert(l.firstGapS === 0.1 +- 1e-9)
    assert(l.jobS === 1.0 +- 1e-9)
    assert(l.gapS === 0.3 +- 1e-9)
    assert(l.tailS === 0.6 +- 1e-9)
    assert(sumOf(l) === 2.0 +- 1e-9)
    assert(l.json ===
      """{"jobs":3,"first_gap_s":0.100,"job_s":1.000,"gap_s":0.300,"tail_s":0.600,"task_s":5.200,"shuffle_read_bytes":10,"shuffle_write_bytes":20,"spill_bytes":30}""")
  }

  test("layers: a job straddling the run window is clipped to it") {
    // run 1000..2000 ms; one job starts before the run, one outlives it,
    // one never reported its end
    val l = BenchSentinel.layers(1000L, 1.0, BenchSentinel.RunTrace(
      jobs = Map(1 -> (900L, 1200L), 2 -> (1800L, 2300L))))
    assert(l.firstGapS === 0.0 +- 1e-9)
    assert(l.jobS === 0.4 +- 1e-9)
    assert(l.gapS === 0.6 +- 1e-9)
    assert(l.tailS === 0.0 +- 1e-9)
    val open = BenchSentinel.layers(1000L, 1.0, BenchSentinel.RunTrace(
      jobs = Map(1 -> (1500L, Long.MaxValue))))
    assert(open.jobS === 0.5 +- 1e-9)
    assert(sumOf(open) === 1.0 +- 1e-9)
  }

  test("layers: a zero-job run is all first gap") {
    val l = BenchSentinel.layers(1000L, 0.25, BenchSentinel.RunTrace())
    assert(l.jobs === 0)
    assert(l.firstGapS === 0.25 +- 1e-9)
    assert(l.jobS === 0.0 && l.gapS === 0.0 && l.tailS === 0.0)
  }

  // ---- previous-artifact parsing ----------------------------------------

  test("parsePrevQueries extracts the queries map from a bench_out.json") {
    val json =
      """{"metric":"total","value":77.5,"unit":"sec","queries":{"q01_daily_counts":0.426,"q98_dedup_stack":1.480},"queries_min":{"q01_daily_counts":0.4},"errors":{},"flagged":[],"probe":[0.5],"contended":false,"sf":"/root/testdata/sf0.1"}"""
    val m = BenchSentinel.parsePrevQueries(json)
    assert(m === Map("q01_daily_counts" -> 0.426, "q98_dedup_stack" -> 1.480))
  }

  test("parsePrevQueries tolerates garbage and absence") {
    assert(BenchSentinel.parsePrevQueries("") === Map.empty)
    assert(BenchSentinel.parsePrevQueries("{\"no_queries\":1}") === Map.empty)
    assert(BenchSentinel.parsePrevQueries("{\"queries\":{broken") === Map.empty)
  }

  test("parseStringArray reads flagged/regressed; tolerant of absence") {
    val json = """{"flagged":["q12_x","q185_y"],"regressed":[],"sf":"s"}"""
    assert(BenchSentinel.parseStringArray(json, "flagged") ===
      Set("q12_x", "q185_y"))
    assert(BenchSentinel.parseStringArray(json, "regressed") === Set.empty)
    assert(BenchSentinel.parseStringArray(json, "absent") === Set.empty)
    assert(BenchSentinel.parseStringArray("", "flagged") === Set.empty)
  }

  test("parseLastRound: min(median, min-of-3), drops flagged/regressed") {
    // q01 clean: min(0.426, 0.40) = 0.40. q98 was FLAGGED in that
    // artifact — a distrusted reading is no clearance reference, drop it.
    // q99 was REGRESSED there — drop too. q50 has only a median.
    val json =
      """{"queries":{"q01":0.426,"q98":1.48,"q99":2.0,"q50":0.7},
        |"queries_min":{"q01":0.40,"q98":0.39,"q99":0.5},
        |"flagged":["q98"],"regressed":["q99"],"sf":"s"}"""
        .stripMargin.replace("\n", "")
    val m = BenchSentinel.parseLastRound(json)
    assert(m === Map("q01" -> 0.40, "q50" -> 0.7))
  }

  test("parseLastRound: a contention-inflated cleared level cannot clear " +
      "a genuine regression (the r20-advice scenario)") {
    // Last round's artifact carried a drifted 2.0 s median for q7 and
    // flagged it; this round q7 confirms at 1.8 s vs a 0.5 s ratchet.
    // Against the drifted level 1.8 <= 1.25*2.0 would have cleared the
    // regression; with the flagged reading dropped, lastRound has no q7
    // entry and adjudicate's forall keeps the flag.
    val lastArtifact =
      """{"queries":{"q7":2.0},"queries_min":{"q7":1.9},"flagged":["q7"],"regressed":[],"sf":"s"}"""
    val lastRound = BenchSentinel.parseLastRound(lastArtifact)
    assert(lastRound.get("q7") === None)
    val (_, regressed) = BenchSentinel.adjudicate(
      flagged = Nil, regressed = Seq("q7"),
      retimed = Map("q7" -> BenchSentinel.Retime(1.8, 1.8)),
      sweepMin = Map("q7" -> 1.85),
      baseline = Map("q7" -> 0.5),
      lastRound = lastRound)
    assert(regressed === Seq("q7"))
  }
}
