package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * Uses the `noop` sink so the FULL physical plan executes (a bare
  * `.count()` would let Catalyst prune projections and undercount).
  *
  * Each query is timed SPARK_GRAFT_RUNS times (default 3) and the
  * MEDIAN is reported — single-run numbers made round-over-round
  * deltas unattributable noise (the round-2 verdict's q07 "+13%").
  *
  * REGRESSION GATE: the previous round's medians are read from the
  * newest same-core-count bench_medians_r*.json in the working
  * directory (see `baselines`) and every query whose median grew
  * by >1.5x AND >0.1 s absolute (the floor keeps
  * sub-100 ms queries from flapping the gate on scheduler noise) is
  * listed under "regressions" in the output line — so an unexplained
  * swing like round 4's q24 +44% is flagged the round it happens, not
  * a round later.
  *
  * BEST-EVER GATE: the prev-round compare alone lets a slow drift
  * through (+40% spread over three rounds never trips 1.5x once), so
  * the same thresholds are ALSO applied against each query's best-ever
  * median across all those medians files → "regressions_vs_best".
  */
object Bench {

  /** Every per-query double in the output lines prints through one of
    * these: medians (and confirm times, which are fresh medians) with
    * three decimals, ratios with two.
    */
  def fmtMedian(d: Double): String = f"$d%.3f"
  def fmtRatio(d: Double): String = f"$d%.2f"

  /** Per-query medians from a committed `bench_medians_r{N}.json` or
    * `bench_quiet_r{N}.json` file (the `_cpus` tag is not a qNN key and
    * never matches).
    */
  def parseMediansFile(content: String): Map[String, Double] =
    """"(q\d{2,}_[a-z0-9_]+)"\s*:\s*(-?\d+(?:\.\d+)?)""".r
      .findAllMatchIn(content)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap

  def regressions(
      prev: Map[String, Double],
      cur: Seq[(String, Double)],
      floor: Double = 0.1): Seq[(String, Double)] =
    cur.collect {
      case (name, t) if t > 0 && prev.getOrElse(name, -1.0) > 0 &&
          t > prev(name) * 1.5 && t - prev(name) > floor =>
        name -> t / prev(name)
    }

  /** Per-query best-ever (minimum) median across many rounds' parsed
    * medians — the baseline for the slow-drift gate.
    */
  def bestEver(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.flatMap(_.toSeq).filter(_._2 > 0)
      .groupMapReduce(_._1)(_._2)(math.min)

  /** CONFIRM PASS (round-7): a trip flagged during the full sweep may
    * be measurement contention, not a plan change — BENCH_r06
    * published 20 phantom regressions because the sweep ran
    * concurrently with the correctness gate; a quiet rerun put all 20
    * inside noise. So each flagged query is re-measured (fresh
    * `runs`-median) AFTER the sweep completes, and only trips that
    * reproduce on the re-measured median are published as
    * regressions; the raw sweep flags are kept under "suspect" keys
    * so no information is dropped.
    */
  def confirmRegressions(
      baseline: Map[String, Double],
      flagged: Seq[String],
      remeasure: String => Double): Seq[(String, Double)] =
    // the PUBLISHED floor is 0.25 s absolute (vs 0.1 s for sweep
    // suspects): the same sub-second query spreads 0.2-0.4 s between
    // quiet JVMs on this machine (q86 measured 0.57-1.81 s within ONE
    // fresh-JVM QuickTime run), so a sub-quarter-second delta against
    // a single historical median is indistinguishable from scheduler/
    // GC jitter even when the ratio clears 1.5x. A real regression on
    // a 100 TB-relevant query moves more than 0.25 s; the raw sweep
    // flags stay visible under "suspect" and the re-measured medians
    // under "confirm_times", so nothing is hidden.
    regressions(baseline, flagged.map(n => n -> remeasure(n)), floor = 0.25)

  /** PER-ENTRY CONTENTION ADJUDICATION (round-11): the q04 flagship
    * canary (0.4 s) passed in round 10 while the same fork read q124
    * at 5.6x its quiet median — a 0.4 s probe cannot detect the load
    * shape that inflates 10-30 s entries. Each confirm reading is
    * therefore ALSO judged against that entry's own best-ever median
    * (proportional canary): a reading within 1.3x of its own best
    * (+0.1 s absolute floor for sub-second jitter) is quiet and
    * stands. Round-11 tightening: the band was 2x, which let ~1.4x
    * session-aged readings (q124 2.84 s vs 2.02 s fresh) enter the
    * published baseline uncontested — anything over 1.3x best is now
    * ambiguous — real regression or contention — and is re-forked
    * once after a backoff and adjudicated:
    *   - second reading quiet (<= 1.3x best) -> first was aging or
    *     contention; the quiet second reading is the confirm value
    *   - second reading loud AND within 1.3x of the first -> the slow
    *     reading reproduces across two spaced quiet-flagship forks:
    *     a real regression, published at min(first, second)
    *   - second reading loud and disagreeing (or refork unreliable /
    *     failed) -> contention both times: UNRESOLVED, stays under
    *     "suspect"/"confirm_unresolved", never published or persisted
    * Returns (adjudicated confirm values, unresolved entry names).
    */
  def adjudicateConfirms(
      first: Map[String, Double],
      best: Map[String, Double],
      refork: Seq[String] => Map[String, Double])
      : (Map[String, Double], Seq[String]) = {
    def quiet(n: String, t: Double): Boolean = {
      val b = best.getOrElse(n, -1.0); b <= 0 || t <= b * 1.3 + 0.1
    }
    val positive = first.filter(_._2 > 0)
    val (ok, loud) = positive.partition { case (n, t) => quiet(n, t) }
    if (loud.isEmpty) (ok, Nil)
    else {
      val second = refork(loud.keys.toSeq.sorted)
      val resolved = loud.flatMap { case (n, t1) =>
        second.get(n).filter(_ > 0) match {
          case Some(t2) if quiet(n, t2) => Some(n -> t2)
          case Some(t2) if math.max(t1, t2) <= math.min(t1, t2) * 1.3 =>
            Some(n -> math.min(t1, t2))
          case _ => None
        }
      }
      (ok ++ resolved, loud.keys.toSeq.filterNot(resolved.contains).sorted)
    }
  }

  /** The `"_cpus"` core-count tag of a store file (see `baselines`);
    * files written before the tag are 32-core runs.
    */
  def parseFileCpus(content: String): Option[Int] =
    """"_cpus"\s*:\s*(\d+)""".r.findFirstMatchIn(content)
      .map(_.group(1).toInt)
  def fileCpus(content: String): Int = parseFileCpus(content).getOrElse(32)

  /** A medians or quiet store: the `"_cpus"` tag (see `baselines`),
    * then one `"name": median` line per entry, in the given order.
    */
  def storeJson(cpus: Int, entries: Seq[(String, Double)]): String =
    (("  \"_cpus\": " + cpus) +: entries
      .map { case (k, v) => "  \"" + k + "\": " + fmtMedian(v) })
      .mkString("{\n", ",\n", "\n}")

  /** The quiet-regime store: latest adjudicated fresh-JVM median per
    * entry, later files overriding earlier ones (each write already
    * carries the previous store forward, so the fold is belt and
    * braces for a partially-committed history). Values enter ONLY
    * through `adjudicateConfirms` (flagship-gated fork, per-entry
    * canary, loud readings reproduced-or-dropped) or a hand-run
    * documented QuickTime session — never from a sweep.
    */
  def quietStore(files: Seq[(Int, String)]): Map[String, Double] =
    files.sortBy(_._1).foldLeft(Map.empty[String, Double]) {
      case (acc, (_, content)) =>
        acc ++ parseMediansFile(content).filter(_._2 > 0)
    }

  /** What the gates compare one run against: `prev` is the newest
    * same-core-count medians file (named by `prevFile`, "none" when
    * there is none), `best` the per-entry minimum over all of them,
    * `quiet` the same-core-count quiet store, and `nextRound` the
    * number this run's files take.
    */
  final case class Baselines(
      prev: Map[String, Double], prevFile: String,
      best: Map[String, Double], quiet: Map[String, Double], nextRound: Int)

  /** MEASUREMENT REGIMES (round-18). Two regimes must never share a
    * baseline store:
    *   - SWEEP regime: a reading taken inside the 402-entry bench
    *     session (~1,200 plan executions in one JVM). Session aging
    *     inflates sub-second entries 2-3x over a fresh JVM (q01 sweep
    *     0.34 s vs 0.102 s forked, same commit, same minute).
    *   - QUIET regime: a flagship-gated fresh-JVM fork (QuickTime).
    * Through round 17, `baselineMerge` folded quiet confirm values
    * into the committed medians via min() — so every confirmed entry
    * acquired a quiet-regime baseline that the NEXT sweep could never
    * meet: the entry re-flagged every round, re-confirmed every round,
    * and the confirm budget drowned (r16/r17 both published
    * confirm_skipped_budget:true with a 16-entry backlog).
    * bench_medians_r{N}.json therefore holds SWEEP-regime medians only
    * (see baselineMerge) and bench_quiet_r{N}.json QUIET-regime
    * adjudicated medians. The mixed-regime medians files of rounds
    * 8-36 were deleted (git history keeps them; SURVEY's round-18
    * entry adjudicates the cut).
    *
    * CORE-COUNT REGIME (round-19). At sf0.1 the suite is
    * fixed-overhead-bound, so readings at a lower core count sit
    * systematically LOWER on many entries (q173_bpe_extend 1.44 s at
    * 8c vs 2.4-3.4 s at 32c); round 18's 8-core medians entered the
    * 32-core prev/best-ever chains and manufactured phantom
    * "regressions" two rounds in a row. Every store therefore carries
    * an `"_cpus"` key and every gate reads only files of its own
    * core count. Files written before the tag are 32-core runs, except
    * bench_medians_r41, the 8-core run, which carries the tag by hand.
    *
    * `baselines` builds all of this from the committed stores among
    * `files` ((file name, content) pairs); any other file is ignored.
    * Numbering spans every store of every core count, so a new file
    * never collides with an existing round number.
    */
  def baselines(files: Seq[(String, String)], cpus: Int): Baselines = {
    val Store = """bench_(medians|quiet)_r(\d+)\.json""".r
    val stores = files.collect { case (n @ Store(kind, r), c) => (kind, r.toInt, n, c) }
    val medians = stores
      .collect { case ("medians", r, n, c) if fileCpus(c) == cpus => (r, n, c) }
      .sortBy(_._1)
    val rounds = medians.map { case (_, _, c) => parseMediansFile(c) }
    Baselines(
      prev = rounds.lastOption.getOrElse(Map.empty),
      prevFile = medians.lastOption.map(_._2).getOrElse("none"),
      best = bestEver(rounds),
      quiet = quietStore(stores.collect {
        case ("quiet", r, _, c) if fileCpus(c) == cpus => r -> c }),
      nextRound = (stores.map(_._2) :+ 0).max + 1)
  }

  /** BASELINE NEVER-RAISE RULE (round-11, regime-pure since round-18):
    * round 10's committed bench_medians_r14 carried q155=34.5 s /
    * q124=11.9 s against same-commit quiet medians of 15.3 s / 2.1 s —
    * a contended sweep (whose q04 canary passed) wrote its inflated
    * values straight into the next round's vs-prev baseline, masking
    * real regressions. A candidate that would RAISE an existing
    * baseline entry past the regression-gate thresholds (>1.5x and
    * >0.25 s) is accepted only when the quiet confirm itself
    * reproduces the regression against the QUIET baseline (regime-
    * matched realness; the sweep baseline is the conservative fallback
    * where no quiet history exists); otherwise the previous baseline
    * value is kept and the entry is reported under
    * "baseline_raise_rejected" — the gate then keeps flagging it every
    * round until it is fixed or quietly reproduces. Sub-threshold
    * drift still tracks through (so baselines follow honest noise),
    * and lowering is always accepted.
    *
    * REGIME-PURE (round-18): the merged value is always the SWEEP
    * median — an adjudicated quiet confirm decides WHETHER a raise
    * stands but its (systematically 2-3x lower) value never replaces
    * the sweep reading. The round-8..17 min(sweep, confirmed) fold is
    * exactly the poisoning mechanism described at `baselines`.
    * Returns (merged baseline, rejected-raise entry names).
    */
  def baselineMerge(
      sweep: Seq[(String, Double)],
      adjudicated: Map[String, Double],
      prevBase: Map[String, Double],
      quietBase: Map[String, Double] = Map.empty)
      : (Seq[(String, Double)], Seq[String]) = {
    val rejected = Seq.newBuilder[String]
    val out = sweep.map { case (k, v) =>
      val conf = adjudicated.getOrElse(k, -1.0)
      val pb = prevBase.getOrElse(k, -1.0)
      val raising = pb > 0 && v > pb * 1.5 && v - pb > 0.25
      val qb = quietBase.getOrElse(k, pb)
      val confirmsReal = conf > 0 && qb > 0 &&
        conf > qb * 1.5 && conf - qb > 0.25
      if (raising && !confirmsReal) { rejected += k; k -> pb }
      else k -> v
    }
    (out, rejected.result())
  }

  /** SWEEP FLAGSHIP CHOICE (round-14): judge sweep health on a
    * MULTI-SECOND entry when one has a baseline — 2x of q109's 3.4 s
    * genuinely means degraded, where 2x of q04's ratcheted 0.169 s is
    * a 169 ms window that a warm-but-quiet machine trips (this
    * round's first sweep read q04 at 2.41x while q109/q155/q22 sat at
    * or under 1.03x, and a good sweep's medians were discarded).
    * Falls back to q04 when q109 has no multi-second baseline yet.
    * Round-15 (advice): consult `best` too — a round whose medians
    * file went missing (the rc=124 failure itself) leaves `prev`
    * without q109 even when best-ever carries a multi-second value,
    * and the gate would fall back to the fragile sub-second q04 tell.
    */
  def sweepFlagship(
      prev: Map[String, Double],
      best: Map[String, Double]): (String, Double) = {
    val q109 = math.max(prev.getOrElse("q109_profile", -1.0),
      best.getOrElse("q109_profile", -1.0))
    val name = if (q109 > 1.0) "q109_profile" else "q04_agg_2a"
    (name, prev.getOrElse(name, best.getOrElse(name, -1.0)))
  }

  /** The degraded tell itself: >2x the flagship baseline PLUS the
    * +0.5 s absolute floor every sub-second gate in this file carries
    * (missing/failed flagship counts as degraded). No baseline
    * (<= 0) accepts the sweep — nothing to compare against.
    */
  def sweepIsDegraded(flagBase: Double, flag: Double): Boolean =
    flagBase > 0 && (flag <= 0 || flag > flagBase * 2 + 0.5)

  /** COMPACT LAST LINE (round-17, verdict #1): the driver captures
    * only the final ~2,000 chars of stdout and JSON-parses the LAST
    * line — a 402-entry per-query map (~15 KB) on that line can never
    * parse (BENCH_r16 had rc=0, last-line JSON, and STILL parsed:null
    * because the line was longer than the tail). The last line is now
    * a compact summary; the full per-query map prints on EARLIER
    * lines (phase "sweep" and "final_detail") and persists in the
    * committed bench_medians_r{N}.json. Degradation order when even
    * the summary runs long (33 unresolved entries + a bad confirm
    * round could reach ~2.3 KB): drop the confirm_times map to a
    * count, then the unresolved list to a count, then the suspect
    * ratio maps to counts, then the rejected raises and the published
    * regressions — every dropped map still lives verbatim on the
    * final_detail line. worst_movers is capped at 8 entries when it is
    * built, so every candidate keeps it (BENCH_r19 printed `{}` when
    * 103 rejected raises pushed the line onto the last candidate). The
    * first candidate under `limit` wins; candidates must be ordered
    * most- to least-detailed.
    */
  def shrinkToLimit(candidates: Seq[String], limit: Int = 1700): String =
    candidates.find(_.length <= limit).getOrElse(candidates.last)

  def medianJson(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmtMedian(v) }.mkString("{", ",", "}")
  def ratioJson(m: Seq[(String, Double)]): String =
    m.map { case (k, r) => "\"" + k + "\":" + fmtRatio(r) }.mkString("{", ",", "}")
  def namesJson(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Everything the compact last line reports. */
  final case class FinalSummary(
      total: Double, sfDir: String, nQueries: Int, mediansFile: String,
      headline: Seq[(String, Double)], geomeanAll: Double, nCommonAll: Int,
      worstMovers: Seq[(String, Double)],
      regr: Seq[(String, Double)], regrVsBest: Seq[(String, Double)],
      suspect: Seq[(String, Double)], suspectVsBest: Seq[(String, Double)],
      confirmTimes: Seq[(String, Double)], confirmUnreliable: Boolean,
      unresolved: Seq[String], confirmSkippedBudget: Boolean,
      raiseRejected: Seq[String], sweepDegraded: Boolean, prev: String)

  /** The compact last line, shrunk to `limit` (see shrinkToLimit). */
  def compactFinalLine(s: FinalSummary, limit: Int = 1700): String = {
    import s._
    def line(rg: String, rgB: String, ct: String, un: String,
        susp: String, suspB: String, rr: String) =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","phase":"final","sf":"$sfDir","n_queries":$nQueries,"medians_file":"$mediansFile","queries":${medianJson(headline)},"geomean_vs_prev_all":${fmtRatio(geomeanAll)},"n_common_all":$nCommonAll,"worst_movers":${ratioJson(worstMovers)},"regressions_n":${regr.size},"regressions":$rg,"regressions_vs_best_n":${regrVsBest.size},"regressions_vs_best":$rgB,"suspect_n":${suspect.size},"suspect":$susp,"suspect_vs_best_n":${suspectVsBest.size},"suspect_vs_best":$suspB,"confirm_times_n":${confirmTimes.size},"confirm_times":$ct,"confirm_unreliable":$confirmUnreliable,"confirm_unresolved_n":${unresolved.size},"confirm_unresolved":$un,"confirm_skipped_budget":$confirmSkippedBudget,"baseline_raise_rejected_n":${raiseRejected.size},"baseline_raise_rejected":$rr,"sweep_degraded":$sweepDegraded,"prev":"$prev"}"""
    val (rg, rgB) = (ratioJson(regr), ratioJson(regrVsBest))
    val (susp, suspB) = (ratioJson(suspect), ratioJson(suspectVsBest))
    val (ct, un, rr) =
      (medianJson(confirmTimes), namesJson(unresolved), namesJson(raiseRejected))
    shrinkToLimit(Seq(
      line(rg, rgB, ct, un, susp, suspB, rr),
      line(rg, rgB, "{}", un, susp, suspB, rr),
      line(rg, rgB, "{}", "[]", susp, suspB, rr),
      line(rg, rgB, "{}", "[]", "{}", "{}", rr),
      line("{}", "{}", "{}", "[]", "{}", "{}", "[]")), limit)
  }

  /** CONFIRM PRIORITIZATION + CAP (round-17): a loud sweep flags
    * dozens of entries and the confirm fork re-times EVERY one (x3
    * reps) — rounds 16 and 17 both budget-skipped the pass leaving
    * 33-35 entries unresolved, and the list order was sweep order,
    * so the entries that mattered (multi-second absolute movers)
    * had no priority over 0.2-s jitter flags. Flags are now
    * confirmed in SEVERITY order — sweep seconds above the entry's
    * own baseline, descending — and the list is CAPPED to what the
    * caller's budget can actually fork (reps x sweep median + 1 s
    * per-entry overhead on top of the fork's fixed JVM/warmup/
    * flagship cost), so the big movers always resolve and only the
    * sub-second tail stays visible under "suspect" when the budget
    * is tight (the same semantics as a wholly skipped pass).
    */
  def capBySeverity(
      flagged: Seq[String], sweep: Map[String, Double],
      baseline: Map[String, Double], budgetSec: Double,
      reps: Int = 3, fixedSec: Double = 45.0): Seq[String] = {
    // entries WITH a real baseline confirm first (round-17 advice): a
    // never-baselined entry's severity would otherwise be its FULL
    // sweep time (delta vs 0), so one new-but-legitimately-slow query
    // could consume most of the budget while genuine multi-second
    // regressions with history stay unconfirmed — history first, then
    // delta-descending within each group
    val sev = flagged.sortBy { n =>
      val hasBase = baseline.getOrElse(n, 0.0) > 0
      (if (hasBase) 0 else 1,
        -(sweep.getOrElse(n, 0.0) - math.max(baseline.getOrElse(n, 0.0), 0.0)))
    }
    // skip-and-continue, NOT takeWhile: one mover too big for the
    // budget must not starve the cheap entries behind it (a 40 s
    // q155 flag would otherwise block a 0.6 s q04 confirm that fits
    // with room to spare)
    var acc = fixedSec
    sev.filter { n =>
      // fork-cost estimate (round-18): the fork re-times the entry on
      // a QUIET fresh JVM, so a session-aging spike in the sweep
      // reading (q81 read 11.6 s in a seeding sweep, 1.4 s quiet)
      // must not price the confirm at 3x the spike — where a baseline
      // exists, the quiet re-measure costs ~reps x baseline even when
      // the sweep reading is inflated; a GENUINE regression costs
      // more, but the fork loop is separately deadline-gated
      // (remainingSecFn), so underestimating there risks nothing
      val base = baseline.getOrElse(n, 0.0)
      val per = if (base > 0) math.min(sweep.getOrElse(n, 0.0), base * 1.3)
        else sweep.getOrElse(n, 0.0)
      val cost = reps * math.max(0.05, per) + 1.0
      val fits = acc + cost <= budgetSec
      if (fits) acc += cost
      fits
    }
  }

  /** Wall seconds to build `build` and write it to the `noop` sink.
    *
    * BETWEEN-MEASUREMENT HYGIENE (round-18): entries pin shared
    * subtrees with eager localCheckpoint/persist, whose blocks
    * outlive the query — nothing unpersists them once the frame
    * goes out of scope until a driver GC lets ContextCleaner
    * catch up, so a 403-entry sweep accumulates hundreds of dead
    * cached RDDs (storage-memory pressure + GC churn = part of
    * the measured session aging). Each run computes from parquet
    * regardless (a fresh invocation builds fresh RDDs — nothing
    * here ever REUSES a previous run's blocks, so this is the
    * opposite of cross-run caching); dropping the dead blocks
    * happens OUTSIDE the timed region, and in a finally so a
    * FAILED entry's pinned blocks don't sit in storage during
    * the next entry's timed region (round-18 advice).
    */
  def timeNoop(spark: SparkSession)(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      build.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
  }

  /** The bounded headline subset for the compact last line's
    * "queries" object: the reference's own benchmark queries (scan
    * 1a/1b, projection, aggregate 2a/2b, global sum — BASELINE.md's
    * published numbers) — six entries, never grows with the suite.
    */
  val headlineQueries: Seq[String] = Seq("q01_scan_1a", "q02_scan_1b",
    "q03_project_scalar", "q04_agg_2a", "q05_agg_multi", "q06_global_sum")

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // WALL-CLOCK BUDGET (round-14, tightened round-15): the driver
    // kills the bench at a hard timeout whose clock started at sbt
    // launch (compile time included) — rounds 13 AND 14 died rc=124
    // inside the confirm pass's fork/backoff loop, losing the round's
    // bench artifact twice. Everything after the sweep is now
    // deadline-driven against this budget: the confirm pass forks only
    // while the measured cost of another fork still fits, and the
    // final JSON line + exit 0 are guaranteed (the budget default also
    // dropped 2100 -> 1500 s, leaving sbt-compile + driver-margin
    // headroom that 2100 did not).
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    // time reserved for the final publish + JVM teardown
    def remainingSec: Double = budgetSec - 30.0 - elapsedSec
    val spark = GraftSession.local(cores = cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // the between-measurement unpersist (runOnce) of dead
    // localCheckpointed RDDs logs one benign WARN per block
    // ("lineage has been truncated and cannot be recomputed") — 400+
    // stderr lines per sweep for an intended, safe operation. Scoped
    // to the concrete class loggers that emit it (Spark's Logging
    // names loggers by runtime class, so the warning — whose string
    // lives in RDD.unpersist — surfaces as MapPartitionsRDD, the
    // class every localCheckpointed frame bottoms out in), not the
    // whole rdd package: warnings from sibling classes stay visible
    // (round-18 advice).
    try Seq("org.apache.spark.rdd.RDD", "org.apache.spark.rdd.MapPartitionsRDD")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => }

    def runOnce(s: SparkSession)(name: String): Double =
      try timeNoop(s)(SparkEntry.queries(name)(s, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }

    // n=1 -> the single reading; n=2 -> min (timing noise is strictly
    // additive, so the min of two is the honest quiet estimate and is
    // never ABOVE the median-of-3 it replaces — the never-raise merge
    // and the confirm pass still guard the gates); n>=3 -> median
    def runStat(s: SparkSession)(name: String, n: Int): Double = {
      val ts = Seq.fill(n)(runOnce(s)(name))
      if (ts.contains(-1.0)) -1.0
      else if (n <= 2) ts.min
      else ts.sorted.apply(n / 2)
    }

    // the committed same-core-count baseline stores (see `baselines`)
    val Baselines(prev, prevName, best, quietBase, nextRound) = baselines(
      Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bench_"))
        .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath))),
      cpus)

    val names = SparkEntry.queries.keys.toSeq.sorted
    // one warm-up of the flagship to absorb JVM/codegen first-run cost
    runOnce(spark)("q04_agg_2a")
    // ADAPTIVE REPS (round-15, verdict #4): baselined entries get a
    // 2-run min instead of a 3-run median — they are baseline-stable
    // (never-raise + confirm pass absorb a noisy reading), and the cut
    // removes ~1/3 of sweep wall time so the sweep fits well under
    // 50% of the driver budget even on a moderately loaded box. New
    // entries (no history anywhere) keep the full `runs`-median. A
    // SOFT DEADLINE valve degrades the remaining entries to a single
    // run when the sweep itself has eaten 45% of the budget — every
    // entry still gets a real measurement (the driver needs all of
    // them), but a contended sweep can no longer push the final
    // publish past the driver's kill.
    val sweepSoftSec = budgetSec * 0.45
    var sweepSingleRun = false
    def runsFor(name: String): Int = {
      val hasBase = prev.getOrElse(name, -1.0) > 0 ||
        best.getOrElse(name, -1.0) > 0
      if (elapsedSec > sweepSoftSec) {
        if (!sweepSingleRun) System.err.println(
          f"[bench] sweep soft deadline hit at $elapsedSec%.0f s (> $sweepSoftSec%.0f s): remaining entries run ONCE")
        sweepSingleRun = true
        1
      } else if (hasBase) 2
      else runs
    }
    val results = names.map(n => n -> runStat(spark)(n, runsFor(n)))
    System.err.println(f"[bench] sweep done in $elapsedSec%.0f s (budget $budgetSec%.0f s)")
    val qs = medianJson(results)
    val total = results.map(_._2).filter(_ >= 0).sum
    val sweepRegr = regressions(prev, results)
    val sweepBest = regressions(best, results)
    // CONFIRM OUT-OF-PROCESS (round-8): a flagged trip is re-measured
    // in a FORKED fresh JVM (graft.tools.QuickTime), not in this one —
    // round 7 proved a fresh SparkContext in the aged JVM still reads
    // 2-9x high after a 150-entry sweep (q18 3.54 s in-session vs
    // 0.40 s forked), so an in-process confirm publishes phantom
    // regressions AND poisons the next round's baseline. The fork is
    // the honest twin of the fresh-JVM medians it is compared to.
    val resMap = results.toMap
    // FULL-SUITE COMPARISON (round-19, r18 verdict #3/#8): the compact
    // last line previously exposed only the 6 headline queries, so the
    // driver's ground-truth comparison was blind to 98% of the suite.
    // geomean_vs_prev_all covers every entry present in both this
    // sweep and the previous same-regime medians file (prev/now, >1 =
    // faster); worst_movers is the bounded top-8 now/prev ratio map.
    val commonRatios = results.flatMap { case (k, v) =>
      prev.get(k).filter(_ > 0).collect { case p if v > 0 => k -> (v / p) } }
    val geomeanAll = if (commonRatios.isEmpty) -1.0
      else math.exp(commonRatios.map(r => math.log(1.0 / r._2)).sum / commonRatios.size)
    val worstMovers = commonRatios.sortBy(-_._2).take(8)
    val flaggedAll = (sweepRegr.map(_._1) ++ sweepBest.map(_._1)).distinct
    // severity baseline: the best defensible value we hold for the
    // entry (min of prev-round and best-ever where present)
    val sevBase = flaggedAll.map(n => n -> Seq(prev.getOrElse(n, -1.0),
      best.getOrElse(n, -1.0)).filter(_ > 0).minOption.getOrElse(0.0)).toMap
    // 40% of the remaining budget for the first fork leaves room for
    // the adjudication refork (60 s sleep + second fork of the loud
    // subset) that follows a non-quiet first reading — raised from
    // 35% in round 18: with the quiet store in place most confirm
    // readings pass the per-entry canary outright, so the refork path
    // engages rarely and the first fork deserves the larger share
    val flagged = capBySeverity(flaggedAll, resMap, sevBase,
      math.max(0.0, remainingSec) * 0.40)
    // entries starved by the cap are a BUDGET skip and must say so:
    // without this, a budget too small for even one fork empties
    // `flagged` and the round publishes confirm_skipped_budget:false
    // — indistinguishable from a clean round with nothing to confirm
    val confirmCapped = flagged.size < flaggedAll.size
    if (confirmCapped) System.err.println(
      s"[bench] confirm list capped by budget: ${flagged.size} of " +
        s"${flaggedAll.size} flags fork (severity order); the rest stay under suspect")
    // QUIETNESS GATE (round-9): round 8 proved the fork alone is not
    // enough — launched right after the 34-min sweep, its "confirmed"
    // times read 2-13x high (q155 60.6 s vs 10.5 s quiet) and, worse,
    // poisoned the committed next-round baseline. The fork now times
    // the q04 flagship first; if that reads >2x q04's committed
    // median, the machine is not quiet — retry after a backoff, and
    // if it never settles publish confirm_unreliable:true and NO
    // confirmed numbers (suspects stay visible; baseline keeps sweep
    // values, never the contended fork's).
    // the 2x threshold compares against the PREVIOUS ROUND's flagship
    // median, not the all-time minimum — one anomalously fast
    // historical q04 would make the gate permanently too strict and
    // suppress confirmed numbers forever (round-9 advice)
    val q04Baseline = prev.getOrElse("q04_agg_2a",
      best.getOrElse("q04_agg_2a", -1.0))

    // ---- EARLY PUBLISH (round-14) ----------------------------------
    // Round 13's driver bench died rc=124 inside the confirm pass's
    // backoff loop: the sweep had FINISHED, but neither the JSON line
    // nor the medians file existed yet, so the round produced no bench
    // artifact at all. The sweep's outputs are therefore published
    // IMMEDIATELY after the sweep — a sweep-phase JSON line (confirmed
    // fields empty, suspects visible) and the medians file under the
    // sweep-only never-raise merge — and then the confirm pass runs
    // and re-publishes both as the FINAL line / file. A killed confirm
    // now costs the confirms, not the round. The driver keeps the
    // stdout TAIL, so when both lines survive the final one wins.
    // see sweepFlagship/sweepIsDegraded scaladoc (round-14): a false
    // PUBLISH stays defused by the never-raise rule + per-entry
    // adjudication, so the asymmetric risk is losing good medians —
    // which is exactly what the multi-second flagship loosens.
    val (sweepFlagName, sweepFlagBase) = sweepFlagship(prev, best)
    val sweepFlag = results.toMap.getOrElse(sweepFlagName, -1.0)
    val sweepDegraded = sweepIsDegraded(sweepFlagBase, sweepFlag)
    val mayPublishMedians = sfDir.endsWith("sf0.1") && !sweepDegraded
    def writeStore(kind: String, entries: Seq[(String, Double)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"bench_${kind}_r$nextRound%02d.json"),
        storeJson(cpus, entries).getBytes("UTF-8"))
    def jsonLine(phase: String, regr: String, regrBest: String,
        confirmTimes: String, confirmUnreliable: Boolean,
        unresolvedJson: String, raiseRejectedJson: String,
        confirmSkippedBudget: Boolean): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","phase":"$phase","queries":$qs,"prev":"$prevName","regressions":$regr,"regressions_vs_best":$regrBest,"suspect":${ratioJson(sweepRegr)},"suspect_vs_best":${ratioJson(sweepBest)},"confirm_times":$confirmTimes,"confirm_unreliable":$confirmUnreliable,"confirm_unresolved":$unresolvedJson,"confirm_skipped_budget":$confirmSkippedBudget,"baseline_raise_rejected":$raiseRejectedJson,"sweep_degraded":$sweepDegraded,"sf":"$sfDir"}"""
    if (mayPublishMedians)
      writeStore("medians", baselineMerge(results, Map.empty, prev)._1)
    else if (sweepDegraded) System.err.println(
      f"[bench] sweep degraded ($sweepFlagName sweep median $sweepFlag%.3f vs baseline $sweepFlagBase%.3f): medians file NOT published")
    println(jsonLine("sweep", "{}", "{}", "{}",
      confirmUnreliable = false, "[]", "[]", confirmSkippedBudget = false))
    System.out.flush()
    // ---- CONFIRM PASS (deadline-driven, round-15) -------------------
    // Rounds 13 AND 14 died rc=124 in here: the old code checked the
    // budget ONCE before forking, then ran up to 3 forks + 2x60 s
    // backoffs (each fork re-times every flagged entry — unbounded on
    // a loaded box) straight into the driver's kill. Every step below
    // is now gated on the REMAINING budget: a fork only launches when
    // the measured cost of the previous fork (or a conservative first
    // estimate) still fits, the fork process itself is killed at the
    // remaining-budget mark, and any exception or shortfall degrades
    // to confirm_unreliable — never to a lost artifact.
    val budgetExceeded = flagged.nonEmpty && remainingSec < 120.0
    if (budgetExceeded) System.err.println(
      f"[bench] wall-clock budget nearly spent ($elapsedSec%.0f s of $budgetSec%.0f s): confirm pass SKIPPED, sweep flags stay under suspect")
    // a severity-capped list is a (partial) budget skip and must
    // publish as one — the capped-out entries are an unconfirmed
    // backlog even though the survivors still fork below
    var confirmBudgetHit = budgetExceeded || confirmCapped
    // a deadline-gated fork series; each fork dies at the budget mark
    def confirmFork(ns: Seq[String]): (Map[String, Double], Boolean) =
      forkQuickTime(ns, sfDir, q04Baseline,
        baselines = best ++ prev,
        remainingSecFn = () => remainingSec,
        forkOnce = (ns2, sf) =>
          forkQuickTimeOnce(ns2, sf, math.max(30.0, remainingSec)))
    val (remeasured: Map[String, Double], confirmReliable: Boolean) =
      if (flagged.isEmpty || budgetExceeded) (Map.empty[String, Double], true)
      else try {
        spark.stop() // free the cores + heap before forking
        confirmFork(flagged)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] confirm pass failed: $e — publishing sweep results")
          (Map.empty[String, Double], false)
      }
    // round-11: per-entry proportional canary + reproducibility refork
    // (see adjudicateConfirms) — the flagship-level check alone passed
    // round 10's contended fork. The refork sleeps first so transient
    // load has a window to clear, and is itself flagship-gated.
    val (adjudicated: Map[String, Double], unresolvedConfirms: Seq[String]) =
      if (!confirmReliable)
        (Map.empty[String, Double],
          (if (remeasured.isEmpty) flagged else remeasured.keys.toSeq).sorted)
      else try {
        // per-entry canary judged against the QUIET store where one
        // exists (regime-matched: a fork reading vs an adjudicated
        // fork median); sweep best-ever is the loose fallback — a
        // quiet reading passes it easily, which only means "stands
        // without a refork", never a published regression
        adjudicateConfirms(remeasured, best ++ quietBase, ns => {
          // the refork (sleep + up to 3 gated forks) is the slowest
          // confirm step — under budget pressure it resolves nothing
          // rather than risking the driver's kill (entries stay under
          // confirm_unresolved; the sweep line is already printed)
          if (remainingSec < 240.0) { confirmBudgetHit = true; Map.empty }
          else {
            Thread.sleep(60000L)
            val (m, rel) = confirmFork(ns)
            if (rel) m else Map.empty
          }
        })
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] adjudication failed: $e — confirms stay unresolved")
          (Map.empty[String, Double], remeasured.keys.toSeq.sorted)
      }
    // a query the fork failed to time (absent / -1) or whose readings
    // stayed loud-and-irreproducible keeps its sweep median:
    // suspicious-but-unconfirmed stays visible under "suspect" without
    // crashing the gate, and -1 never publishes (t > 0 guard)
    def confirmed(n: String): Double = adjudicated.getOrElse(n, -1.0)
    // published regressions are regime-matched (round-18): the quiet
    // confirm reading is judged against the quiet store where one
    // exists; entries without quiet history fall back to the sweep
    // baselines — conservative (a quiet reading clears a sweep
    // baseline unless the regression outweighs the 2-3x session-aging
    // discount), and the raw sweep flag stays visible under "suspect"
    val regrSeq = confirmRegressions(prev ++ quietBase, flagged, confirmed)
    val regrBestSeq = confirmRegressions(best ++ quietBase, flagged, confirmed)
    // an UNRELIABLE confirm pass prints NO times (round-9), and only
    // ADJUDICATED values print (round-11): a contended (2-13x
    // inflated) or loud irreproducible reading is never published
    val confirmTimes =
      if (confirmReliable) adjudicated.toSeq.sorted else Nil
    // ---- FINAL PUBLISH ---------------------------------------------
    // Re-persist this round's medians under the never-raise merge, now
    // with the adjudicated confirms deciding which raises stand (see
    // baselineMerge). An unreliable confirm pass contributes nothing
    // beyond the sweep-phase file already on disk. Only the driver's
    // real bench config (sf0.1) may write — the sf0.001 mechanics
    // probe must not poison baselines; and a degraded sweep publishes
    // NO medians file at all: a missing baseline round falls back to
    // the previous same-core-count file, which is strictly better
    // than an inflated one.
    val (mergedBaseline, raiseRejected) =
      baselineMerge(results, adjudicated, prev, quietBase)
    if (mayPublishMedians) {
      writeStore("medians", mergedBaseline)
      if (raiseRejected.nonEmpty) System.err.println(
        s"[bench] baseline raises REJECTED (kept previous values, see never-raise rule): ${raiseRejected.mkString(",")}")
      // persist adjudicated quiet-regime medians to their OWN store
      // (carrying the previous store forward): these values gate
      // future confirm adjudication but never touch the sweep-regime
      // medians file — see the baselines scaladoc
      if (confirmReliable && adjudicated.nonEmpty)
        writeStore("quiet", (quietBase ++ adjudicated).toSeq.sorted)
    }
    // ---- GUARANTEED LAST LINE + EXIT 0 (round-15) -------------------
    // The r14 tail shows WARN/stderr lines printed AFTER the sweep
    // JSON (a StateStore maintenance thread raced spark.stop()), and
    // the driver's last-line parse got a log line. Stop Spark FIRST,
    // then silence log4j entirely, THEN print the final JSON — nothing
    // in this JVM can write after it — and exit 0 explicitly so a
    // stray non-daemon thread can't hold the process into the
    // driver's timeout (run is forked; exit 0 is clean under sbt).
    try SparkSession.getActiveSession.foreach(_.stop())
    catch { case _: Throwable => }
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => }
    // full per-query detail on an EARLIER line ...
    println(jsonLine("final_detail", ratioJson(regrSeq), ratioJson(regrBestSeq),
      medianJson(confirmTimes), confirmUnreliable = !confirmReliable,
      namesJson(unresolvedConfirms), namesJson(raiseRejected),
      confirmSkippedBudget = confirmBudgetHit))
    // ... then the guaranteed-parseable compact LAST line (round-17)
    println(compactFinalLine(FinalSummary(total, sfDir, results.size,
      if (mayPublishMedians) f"bench_medians_r$nextRound%02d.json" else "none",
      headlineQueries.map(k => k -> resMap.getOrElse(k, -1.0)),
      geomeanAll, commonRatios.size, worstMovers, regrSeq, regrBestSeq,
      sweepRegr, sweepBest, confirmTimes, !confirmReliable,
      unresolvedConfirms, confirmBudgetHit, raiseRejected, sweepDegraded,
      prevName)))
    System.out.flush()
    sys.exit(0)
  }

  /** Fork `graft.tools.QuickTime` with a quietness gate: the fork
    * times a flagship first (`flagship_check[:name]` line); if that
    * reads more than 2x the flagship's committed median + 0.5 s
    * absolute, the window is contended — back off and retry up to
    * `maxAttempts` total forks.
    * Returns (times, reliable): reliable is false when every attempt
    * failed the check, in which case the caller must publish
    * confirm_unreliable rather than numbers.
    *
    * CRASH =/= CONTENTION (round-10): a fork whose flagship check is
    * MISSING or non-positive crashed (or every flagship candidate
    * threw) — that is deterministic, and a backoff changes nothing;
    * round 9's q04 fixture break burned 3 forks + 2x60 s of backoff on
    * exactly this before publishing confirm_unreliable for the wrong
    * reason. Such a fork now bails after ONE attempt, still returning
    * whatever times it managed (visible under suspects, never
    * published as confirmed).
    *
    * The flagship's baseline: q04's comes via `q04Baseline` (the
    * previous round's median — an all-time-min baseline makes the 2x
    * threshold permanently stricter after one anomalously fast round);
    * a fallback flagship (the `flagship_check:qNN` label) is resolved
    * from `baselines`. No history (<= 0) accepts the fork — there is
    * nothing to compare against.
    */
  def forkQuickTime(
      names: Seq[String],
      sfDir: String,
      q04Baseline: Double,
      maxAttempts: Int = 3,
      backoffMs: Long = 60000L,
      forkOnce: (Seq[String], String) => Map[String, Double] = forkQuickTimeOnce,
      baselines: Map[String, Double] = Map.empty,
      remainingSecFn: () => Double = () => Double.MaxValue,
      firstForkEstSec: Double = 120.0)
      : (Map[String, Double], Boolean) = {
    var last: Map[String, Double] = Map.empty
    var attempt = 0
    // DEADLINE (round-15): each fork launches only while its estimated
    // cost (the measured duration of the previous fork x1.2, or a
    // conservative first estimate) fits the caller's remaining budget;
    // each backoff sleeps only when the sleep PLUS another fork fit.
    // Rounds 13/14 both died rc=124 exactly here — the loop retried
    // into the driver's kill on a loaded box that could never settle.
    var estSec = firstForkEstSec
    while (attempt < maxAttempts) {
      if (remainingSecFn() < estSec) {
        System.err.println(
          f"[bench] confirm budget exhausted (${remainingSecFn()}%.0f s left < $estSec%.0f s est fork cost): publishing without further forks")
        return (last, false)
      }
      attempt += 1
      val tFork = System.nanoTime()
      val raw = forkOnce(names, sfDir)
      estSec = math.max(30.0, (System.nanoTime() - tFork) / 1e9 * 1.2)
      val checkEntry = raw.find(_._1.startsWith("flagship_check"))
      val check = checkEntry.map(_._2).getOrElse(-1.0)
      val flagName = checkEntry.map(_._1.stripPrefix("flagship_check")
        .stripPrefix(":")).filter(_.nonEmpty)
      last = raw.filterNot(_._1.startsWith("flagship_check"))
      if (check <= 0) {
        System.err.println(
          f"[bench] confirm fork's flagship check crashed (check=$check%.3f) — deterministic, not retrying")
        return (last, false)
      }
      val base = flagName match {
        case None | Some("q04_agg_2a") => q04Baseline
        case Some(other)               => baselines.getOrElse(other, -1.0)
      }
      // ABSOLUTE FLOOR (round-14): every other gate in this file
      // carries one (+0.1 s / +0.25 s) because sub-second readings
      // jitter; this check did not, and q04's baseline had ratcheted
      // to 0.169 s — a 169 ms-margin window no post-sweep fork could
      // pass, which burned round 13's entire bench in backoff loops
      // (BENCH_r13 rc=124). +0.5 s keeps the gate meaningful for a
      // multi-second flagship while tolerating fixed-cost jitter on a
      // sub-second one.
      val quiet = base <= 0 || check <= base * 2 + 0.5
      if (quiet) return (last, true)
      System.err.println(
        f"[bench] confirm fork not quiet (flagship_check=$check%.3f vs baseline $base%.3f, attempt $attempt/$maxAttempts)")
      if (attempt < maxAttempts) {
        if (remainingSecFn() < backoffMs / 1000.0 + estSec) {
          System.err.println(
            f"[bench] confirm budget too low for another backoff+fork (${remainingSecFn()}%.0f s left): publishing without further forks")
          return (last, false)
        }
        Thread.sleep(backoffMs)
      }
    }
    (last, false)
  }

  /** The command line of a fresh JVM running `mainClass` with `args`:
    * this JVM's java binary, classpath and --add-opens/-X flags.
    */
  def childJvm(mainClass: String, args: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports")
        || a.startsWith("--enable-native-access") || a.startsWith("-X"))
    Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
  }

  /** Fork `graft.tools.QuickTime` in a FRESH JVM (same classpath,
    * same --add-opens/-X flags as this one) to median-time `names`
    * quietly, and parse its `[quick] <name> median=<t>` lines. Returns
    * whatever the fork managed to time; on fork failure logs stderr
    * and returns empty (callers treat absence as "unconfirmed").
    *
    * `timeoutSec` (round-15) hard-kills the fork process — a wedged or
    * crawling fork on a loaded box must not hold the bench past the
    * driver's kill. A killed fork's partial output is still parsed;
    * its missing flagship_check then reads as a crash upstream (no
    * retry), which is the right degradation.
    */
  def forkQuickTimeOnce(names: Seq[String], sfDir: String): Map[String, Double] =
    forkQuickTimeOnce(names, sfDir, Double.MaxValue)

  def forkQuickTimeOnce(
      names: Seq[String], sfDir: String, timeoutSec: Double): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    try {
      val pb = new ProcessBuilder(
        childJvm("graft.tools.QuickTime", Seq(names.mkString(","))).asJava)
        .redirectErrorStream(true)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      // the confirm fork needs fewer reps than a hand-run QuickTime:
      // 3 medians is what the sweep itself uses, and the fork's cost
      // bounds how many deadline-gated attempts fit the budget
      pb.environment().put("SPARK_GRAFT_QUICK_RUNS", "3")
      val p = pb.start()
      // read output on a side thread so the hard-timeout waitFor below
      // can't deadlock on a full stdout pipe
      val buf = new java.io.ByteArrayOutputStream()
      val reader = new Thread(() => {
        try p.getInputStream.transferTo(buf) catch { case _: Throwable => }
      })
      reader.setDaemon(true)
      reader.start()
      val waitSec = math.min(timeoutSec, 30.0 * 86400).toLong.max(1L)
      val finished = p.waitFor(waitSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) {
        System.err.println(
          f"[bench] confirm fork exceeded its $waitSec s budget slice — killed")
        p.destroyForcibly()
        p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      reader.join(5000)
      val out = buf.toString("UTF-8")
      val code = if (finished) p.exitValue() else -1
      if (code != 0)
        System.err.println(s"[bench] confirm fork exited $code:\n${out.takeRight(2000)}")
      """\[quick\] (\S+) median=(-?\d+\.\d+)""".r.findAllMatchIn(out)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] confirm fork failed: $e")
        Map.empty
    }
  }
}
