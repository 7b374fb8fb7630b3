package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("every driver query has an exact oracle (and no orphan oracles)") {
    // a queries entry without oracleSql silently downgrades the
    // driver's check to rows-only — keep the surfaces identical
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"mismatch: ${SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet} " +
        s"/ ${SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet}")
    // oracles interpolate shared CTE fragments: one left in a plain
    // string shows as `$name` / `${...}`, and a plain val read before
    // its initializer ran shows as the word null
    val marked = SparkEntry.oracleSql.collect {
      case (k, v) if """\$[A-Za-z_{]|\bnull\b""".r.findFirstIn(v).isDefined => k
    }
    assert(marked.isEmpty,
      s"uninterpolated or out-of-order fragment in: ${marked.toSeq.sorted}")
  }

  test("best-ever baseline is the per-query minimum over all rounds") {
    val rounds = Seq(
      Map("a" -> 1.0, "b" -> 2.0),
      Map("a" -> 0.4, "c" -> 3.0),
      Map("a" -> 0.8, "b" -> 1.5, "failed" -> -1.0))
    assert(Bench.bestEver(rounds) ==
      Map("a" -> 0.4, "b" -> 1.5, "c" -> 3.0))
  }

  test("confirm pass drops contention phantoms, keeps real trips") {
    val baseline = Map("phantom" -> 1.0, "real" -> 1.0, "broken" -> 1.0)
    // sweep flagged all three; on quiet re-measurement the phantom is
    // back inside noise, the real trip reproduces (published with its
    // RE-MEASURED ratio, not the sweep's), and a query that fails on
    // re-measure (-1) cannot be published as a confirmed regression
    val remeasured = Map("phantom" -> 1.1, "real" -> 2.0, "broken" -> -1.0)
    val confirmed = Bench.confirmRegressions(
      baseline, Seq("phantom", "real", "broken"), remeasured).toMap
    assert(confirmed.keySet == Set("real"))
    assert(math.abs(confirmed("real") - 2.0) < 1e-9)
  }

  test("confirm pass suppresses sub-quarter-second deltas (fresh-JVM noise band)") {
    // 0.23 s -> 0.36 s clears 1.5x but the 0.13 s delta is inside the
    // measured quiet-JVM spread on this machine: suspect-only, never
    // a published regression (the r07 q86 case)
    val confirmed = Bench.confirmRegressions(
      Map("jitter" -> 0.23, "real" -> 0.4),
      Seq("jitter", "real"),
      Map("jitter" -> 0.36, "real" -> 1.2)).toMap
    assert(confirmed.keySet == Set("real"))
  }

  test("medians file parses (and negative medians mark failed runs)") {
    val body = "{\n  \"q01_scan_1a\": 0.228,\n  \"q100_line_dedup\": 1.850,\n  \"q07_broken\": -1.000\n}"
    assert(Bench.parseMediansFile(body) == Map(
      "q01_scan_1a" -> 0.228, "q100_line_dedup" -> 1.85,
      "q07_broken" -> -1.0))
    // failed runs never become a best-ever baseline
    assert(Bench.bestEver(Seq(Bench.parseMediansFile(body)))
      .get("q07_broken").isEmpty)
  }

  // the gate's own stdout artifact (BENCH_r05) beside the medians file it
  // wrote: only the medians file may feed a baseline or the numbering
  Seq(
    "a flagged regression's ratio never poisons the next baseline" ->
      """"regressions":{"q21_ngram_jaccard":1.60}""",
    "neither regressions map in the gate's own output poisons the baseline" ->
      """"regressions":{"q21_ngram_jaccard":1.60},"regressions_vs_best":{"q21_ngram_jaccard":2.10}""",
    "suspect maps in the gate's own output never poison the baseline" ->
      """"regressions":{},"suspect":{"q21_ngram_jaccard":5.01},"suspect_vs_best":{"q21_ngram_jaccard":7.88}"""
  ).foreach { case (name, ratioMaps) =>
    test(name) {
      val selfOutput = s"""{"metric":"total","value":50.0,"unit":"sec","queries":{"q21_ngram_jaccard":6.400},"prev":"bench_medians_r03.json",$ratioMaps,"sf":"x"}"""
      val m = Map("q21_ngram_jaccard" -> 6.4)
      assert(Bench.baselines(Seq("BENCH_r05.json" -> selfOutput,
        "bench_medians_r04.json" -> """{"q21_ngram_jaccard": 6.400}"""), 32) ==
        Bench.Baselines(m, "bench_medians_r04.json", m, Map.empty, 5))
    }
  }

  test("three-digit entry names (q100+) are scraped into the baseline") {
    assert(Bench.baselines(Seq("bench_medians_r04.json" ->
      """{"q99_dec_scale4_exact": 0.500, "q100_line_dedup": 1.234}"""), 32).prev ==
      Map("q99_dec_scale4_exact" -> 0.5, "q100_line_dedup" -> 1.234))
  }

  test("sweep flagship: multi-second q109 preferred, q04 fallback, floored tell") {
    // with a multi-second q109 baseline, sweep health is judged on it
    assert(Bench.sweepFlagship(
      Map("q109_profile" -> 3.407, "q04_agg_2a" -> 0.169), Map.empty) ==
      ("q109_profile", 3.407))
    // a sub-second (or absent) q109 baseline falls back to q04
    assert(Bench.sweepFlagship(
      Map("q109_profile" -> 0.4, "q04_agg_2a" -> 0.169), Map.empty) ==
      ("q04_agg_2a", 0.169))
    assert(Bench.sweepFlagship(Map("q04_agg_2a" -> 0.169),
      Map("q04_agg_2a" -> 0.15)) == ("q04_agg_2a", 0.169))
    // the round-14 incident: q04 at 2.41x its 0.169s baseline is NOT
    // degraded under the +0.5s floor (0.408 <= 0.838)...
    assert(!Bench.sweepIsDegraded(0.169, 0.408))
    // ...but a genuinely degraded window still trips the q109 tell
    assert(Bench.sweepIsDegraded(3.407, 7.5))
    assert(!Bench.sweepIsDegraded(3.407, 3.777))
    // crash/missing flagship counts degraded; no baseline accepts
    assert(Bench.sweepIsDegraded(3.407, -1.0))
    assert(!Bench.sweepIsDegraded(-1.0, 99.0))
  }

  test("sweep flagship: best-ever q109 is consulted when prev lacks it (missing-medians round)") {
    // the rc=124 failure leaves the next round's prev without q109;
    // best-ever still carries the multi-second baseline and must win
    // over the fragile sub-second q04 tell (round-15 advice)
    assert(Bench.sweepFlagship(
      Map("q04_agg_2a" -> 0.169),
      Map("q109_profile" -> 3.407, "q04_agg_2a" -> 0.15)) ==
      ("q109_profile", 3.407))
  }

  test("confirm budget: no fork launches when the remaining budget can't fit one") {
    // rounds 13/14 died rc=124 retrying into the driver's kill — with
    // the budget below the first-fork estimate the gate must bail
    // BEFORE forking and come back unreliable
    var forks = 0
    def fork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1; Map("flagship_check" -> 0.45, "x" -> 1.0)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("x"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = fork,
      remainingSecFn = () => 10.0, firstForkEstSec = 120.0)
    assert(!reliable && forks == 0 && got.isEmpty)
  }

  test("confirm budget: a contended fork stops retrying when backoff+fork no longer fit") {
    // first fork reads loud; the measured fork cost (~0s in-test, so
    // est floors at 30s) plus the 60s backoff exceeds the 50s left ->
    // exactly one fork, unreliable, last times still visible
    var forks = 0
    def noisy(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1; Map("flagship_check" -> 4.0, "x" -> 15.0)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("x"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 60000L, forkOnce = noisy,
      remainingSecFn = () => 50.0, firstForkEstSec = 40.0)
    assert(!reliable && forks == 1)
    assert(got == Map("x" -> 15.0))
  }

  test("confirm fork re-measures in a fresh JVM and reports a positive median") {
    // end-to-end: the test JVM's classpath/flags are what Bench would
    // fork with; a broken fork returns empty and must fail here, not
    // silently neuter the confirm pass at driver time. q04Baseline=-1
    // (no history) accepts the first fork regardless of machine load,
    // so this test can't flake on a busy CI box.
    val (got, reliable) =
      Bench.forkQuickTime(Seq("q01_scan_1a"), "/root/testdata/sf0.001", q04Baseline = -1.0)
    assert(reliable)
    assert(got.get("q01_scan_1a").exists(_ > 0), s"fork result: $got")
    // the quietness-check line is internal protocol, never a "time"
    assert(!got.contains("flagship_check"))
  }

  test("contended fork retries then refuses to publish (confirm_unreliable)") {
    // the round-8 poisoning scenario: every fork reads the flagship
    // 10x over its committed median. The gate must retry maxAttempts
    // times and come back unreliable — the caller then publishes
    // confirm_unreliable instead of numbers and the baseline merge
    // ignores the contended values entirely.
    var forks = 0
    def noisyFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1
      Map("flagship_check" -> 4.0, "q56_stream_sliding" -> 15.641)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("q56_stream_sliding"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = noisyFork)
    assert(!reliable)
    assert(forks == 3)
    // the last attempt's times are still returned (for confirm_times
    // visibility) but stripped of the protocol line
    assert(got == Map("q56_stream_sliding" -> 15.641))
  }

  test("quiet fork passes the flagship check on the first attempt") {
    var forks = 0
    def quietFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1
      Map("flagship_check" -> 0.45, "q56_stream_sliding" -> 1.197)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("q56_stream_sliding"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = quietFork)
    assert(reliable && forks == 1)
    assert(got == Map("q56_stream_sliding" -> 1.197))
  }

  test("a crashed flagship bails after ONE fork (crash is not contention)") {
    // round-9 failure mode: the q04 fixture break made every fork die
    // at warm-up; the gate burned 3 forks + 2x60s backoff on a
    // deterministic crash. A missing/non-positive flagship check must
    // cost exactly one attempt and come back unreliable.
    var forks = 0
    def crashedFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1
      Map("flagship_check:none" -> -1.0, "q56_stream_sliding" -> 1.197)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("q56_stream_sliding"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = crashedFork)
    assert(!reliable && forks == 1)
    assert(got == Map("q56_stream_sliding" -> 1.197))
    // a fork that prints NOTHING (died before any [quick] line) is the
    // same deterministic failure
    var emptyForks = 0
    def emptyFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      emptyForks += 1; Map.empty
    }
    val (_, rel2) = Bench.forkQuickTime(
      Seq("q56_stream_sliding"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = emptyFork)
    assert(!rel2 && emptyForks == 1)
  }

  test("a fallback flagship is judged against ITS OWN baseline, not q04's") {
    // q04 threw in the fork (events-dependent); QuickTime fell back to
    // q06 and labeled the check with its name. 0.9 vs q04's 0.1
    // baseline would read "contended"; vs q06's 0.5 baseline it is
    // quiet — the gate must resolve the label.
    var forks = 0
    def fallbackFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1
      Map("flagship_check:q06_global_sum" -> 0.9, "q125_stream_pit" -> 2.311)
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("q125_stream_pit"), "unused", q04Baseline = 0.1,
      maxAttempts = 3, backoffMs = 0L, forkOnce = fallbackFork,
      baselines = Map("q06_global_sum" -> 0.5))
    assert(reliable && forks == 1)
    assert(got == Map("q125_stream_pit" -> 2.311))
  }

  test("contended fork settles on a later attempt") {
    var forks = 0
    def settlingFork(names: Seq[String], sfDir: String): Map[String, Double] = {
      forks += 1
      val check = if (forks < 2) 4.0 else 0.5
      Map("flagship_check" -> check, "q125_stream_pit" -> (if (forks < 2) 22.772 else 2.311))
    }
    val (got, reliable) = Bench.forkQuickTime(
      Seq("q125_stream_pit"), "unused", q04Baseline = 0.4,
      maxAttempts = 3, backoffMs = 0L, forkOnce = settlingFork)
    assert(reliable && forks == 2)
    assert(got == Map("q125_stream_pit" -> 2.311))
  }

  test("per-entry canary: quiet readings stand without a refork") {
    // both readings within 1.3x(+0.1s) their own best-ever -> no refork
    var reforked = false
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("a" -> 1.25, "b" -> 0.5),
      Map("a" -> 1.0, "b" -> 0.4),
      ns => { reforked = true; Map.empty })
    assert(!reforked)
    assert(adj == Map("a" -> 1.25, "b" -> 0.5) && unresolved.isEmpty)
  }

  test("per-entry canary: 1.4x session-aged reading reforked (round-11 q124 case)") {
    // round-11 blemish: 2.84 s vs best 2.02 s passed the old 2x band
    // and entered the baseline; the 1.3x band reforks it and the
    // fresh quiet reading is what publishes
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("q124_pagerank" -> 2.84),
      Map("q124_pagerank" -> 2.02),
      ns => { assert(ns == Seq("q124_pagerank")); Map("q124_pagerank" -> 2.05) })
    assert(adj == Map("q124_pagerank" -> 2.05) && unresolved.isEmpty)
  }

  test("per-entry canary: loud reading resolved quiet on refork (round-10 q124 case)") {
    // the round-10 failure: q04 flagship quiet while q124 read 5.6x its
    // quiet median. First confirm is loud vs q124's own best; the
    // spaced refork reads quiet -> contention, quiet value published
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("q124_pagerank" -> 11.9),
      Map("q124_pagerank" -> 2.1),
      ns => { assert(ns == Seq("q124_pagerank")); Map("q124_pagerank" -> 2.2) })
    assert(adj == Map("q124_pagerank" -> 2.2) && unresolved.isEmpty)
  }

  test("per-entry canary: reproducible loud reading is a REAL regression") {
    // two spaced quiet-flagship forks agree within 1.3x at >2x best:
    // published at the min of the two readings
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("real" -> 6.0),
      Map("real" -> 2.0),
      _ => Map("real" -> 5.5))
    assert(adj == Map("real" -> 5.5) && unresolved.isEmpty)
  }

  test("per-entry canary: disagreeing loud readings stay UNRESOLVED") {
    // contention both times (34.5 then 22.0, both >2x best=21.0, >1.3x
    // apart): nothing published, nothing persisted
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("q155_bpe_train" -> 34.5),
      Map("q155_bpe_train" -> 10.5),
      _ => Map("q155_bpe_train" -> 22.0))
    assert(adj.isEmpty && unresolved == Seq("q155_bpe_train"))
    // an unreliable/failed refork (empty map) is the same outcome
    val (adj2, un2) = Bench.adjudicateConfirms(
      Map("q155_bpe_train" -> 34.5),
      Map("q155_bpe_train" -> 10.5),
      _ => Map.empty)
    assert(adj2.isEmpty && un2 == Seq("q155_bpe_train"))
  }

  test("per-entry canary: no history accepts the reading (new entries)") {
    val (adj, unresolved) = Bench.adjudicateConfirms(
      Map("q210_new" -> 9.9), Map.empty, _ => fail("no refork expected"))
    assert(adj == Map("q210_new" -> 9.9) && unresolved.isEmpty)
  }

  test("baseline never-raise: an unadjudicated raise keeps the previous value") {
    // the round-10 poisoning: contended sweep median 34.494 vs prev
    // baseline 15.339, confirm unresolved -> baseline keeps 15.339 and
    // the entry is reported rejected
    val (merged, rejected) = Bench.baselineMerge(
      sweep = Seq("q155_bpe_train" -> 34.494, "q01_scan_1a" -> 0.27),
      adjudicated = Map.empty,
      prevBase = Map("q155_bpe_train" -> 15.339, "q01_scan_1a" -> 0.26))
    assert(merged.toMap == Map(
      "q155_bpe_train" -> 15.339, "q01_scan_1a" -> 0.27))
    assert(rejected == Seq("q155_bpe_train"))
  }

  test("baseline never-raise: an adjudicated real regression raises the baseline") {
    // regime-pure (round-18): the raise is ACCEPTED because the quiet
    // confirm (5.5) reproduces the regression against the quiet
    // baseline (2.1), but the merged value is the SWEEP median (6.0)
    // — the quiet reading never replaces a sweep-regime value
    val (merged, rejected) = Bench.baselineMerge(
      sweep = Seq("real" -> 6.0),
      adjudicated = Map("real" -> 5.5),
      prevBase = Map("real" -> 2.0),
      quietBase = Map("real" -> 2.1))
    assert(merged.toMap == Map("real" -> 6.0) && rejected.isEmpty)
  }

  test("baseline never-raise: a quiet-exonerated raise is rejected (regime separation)") {
    // THE round-16/17 backlog mechanism: sweep reads 0.45 (aged
    // session), prev baseline 0.102 (a quiet fork value folded in by
    // the round-8..17 min-merge), confirm fork reads 0.105 quiet. The
    // raise must be rejected (plan did not regress: the quiet reading
    // matches the quiet baseline) AND the quiet reading must not be
    // re-folded into the sweep store — the entry keeps its previous
    // value and stays visible under rejected until a sweep-regime
    // baseline replaces it
    val (merged, rejected) = Bench.baselineMerge(
      sweep = Seq("q01_scan_1a" -> 0.45),
      adjudicated = Map("q01_scan_1a" -> 0.105),
      prevBase = Map("q01_scan_1a" -> 0.102),
      quietBase = Map("q01_scan_1a" -> 0.102))
    assert(merged.toMap == Map("q01_scan_1a" -> 0.102))
    assert(rejected == Seq("q01_scan_1a"))
  }

  test("baseline never-raise: sub-threshold drift and lowering pass through") {
    val (merged, rejected) = Bench.baselineMerge(
      sweep = Seq("drift" -> 0.35, "faster" -> 1.0, "fresh" -> 2.0),
      adjudicated = Map.empty,
      prevBase = Map("drift" -> 0.30, "faster" -> 3.0))
    // drift: 1.17x and +0.05s -> accepted; faster: lowered -> accepted;
    // fresh: no previous entry -> accepted
    assert(merged.toMap == Map(
      "drift" -> 0.35, "faster" -> 1.0, "fresh" -> 2.0))
    assert(rejected.isEmpty)
  }

  test("baseline merge NEVER folds a quiet confirm into the sweep store (round-18)") {
    // the round-8..17 merge stored min(sweep, confirmed) — sweep 11.9
    // under load, quiet refork 2.2 -> stored 2.2, and every later
    // sweep (2-3x a fresh JVM on the same plan) re-flagged the entry
    // forever. Regime-pure: the raise is rejected against prev 2.1
    // (quiet confirm 2.2 is NOT a real regression vs quiet 2.1), the
    // sweep store keeps 2.1, and 2.2 belongs in the quiet store only
    val (merged, rejected) = Bench.baselineMerge(
      sweep = Seq("q124_pagerank" -> 11.9),
      adjudicated = Map("q124_pagerank" -> 2.2),
      prevBase = Map("q124_pagerank" -> 2.1),
      quietBase = Map("q124_pagerank" -> 2.1))
    assert(merged.toMap == Map("q124_pagerank" -> 2.1))
    assert(rejected == Seq("q124_pagerank"))
  }

  test("quiet store merges latest-wins, dropping non-positive values") {
    val q = Bench.quietStore(Seq(
      38 -> """{"q01_scan_1a": 0.110, "q44_neardup_clusters": -1.000}""",
      37 -> """{"q01_scan_1a": 0.102, "q61_tfidf_terms": 0.84}"""))
    assert(q == Map("q01_scan_1a" -> 0.110, "q61_tfidf_terms" -> 0.84))
  }

  test("baselines: the committed stores give the same prev/best/quiet per core count") {
    // pinned against the pre-rewrite reader (tail-scrape + regime epoch +
    // legacy attribution maps) on the same stores: sums pin every value
    val cwd = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bench_"))
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath)))
    // prev file, (prev, best, quiet) sizes and value sums; nextRound 50
    def pin(b: Bench.Baselines, prevFile: String, sizes: Seq[Int], sums: Seq[Double]) = {
      val maps = Seq(b.prev, b.best, b.quiet)
      assert(b.prevFile == prevFile && b.nextRound == 50 && maps.map(_.size) == sizes)
      maps.map(_.values.sum).zip(sums).foreach { case (g, w) => assert(math.abs(g - w) < 1e-6) }
    }
    val b32 = Bench.baselines(cwd, 32)
    pin(b32, "bench_medians_r48.json", Seq(403, 403, 159), Seq(439.804, 316.114, 205.418))
    // rounds 37-40, 42, 44-46 and 48 feed the 32-core best-ever
    val rounds32 = Seq(37, 38, 39, 40, 42, 44, 45, 46, 48)
      .map(r => Bench.parseMediansFile(cwd.toMap.apply(f"bench_medians_r$r%02d.json")))
    assert(b32.best == Bench.bestEver(rounds32))
    pin(Bench.baselines(cwd, 8), "bench_medians_r49.json", Seq(403, 403, 43),
      Seq(382.059, 343.759, 31.19))
    assert(Bench.baselines(cwd, 4) == Bench.Baselines(Map.empty, "none", Map.empty, Map.empty, 50))
  }

  test("baselines read only the bench_medians/bench_quiet stores, from round 1 on") {
    val files = Seq(
      "bench_medians_r01.json" -> "{\n  \"_cpus\": 4,\n  \"q21_ngram_jaccard\": 0.900\n}",
      "bench_medians_r02.json" -> "{\n  \"_cpus\": 8,\n  \"q21_ngram_jaccard\": 0.500\n}",
      "bench_quiet_r01.json" -> "{\n  \"_cpus\": 4,\n  \"q23_simhash\": 0.300\n}")
    // a fresh directory numbers its first files r01: they must feed the
    // next same-core-count run, and numbering spans every core count
    assert(Bench.baselines(files, 4) == Bench.Baselines(
      Map("q21_ngram_jaccard" -> 0.9), "bench_medians_r01.json",
      Map("q21_ngram_jaccard" -> 0.9), Map("q23_simhash" -> 0.3), 3))
  }

  test("store writer: parseMediansFile and parseFileCpus read back what storeJson wrote") {
    val entries = Seq("q04_agg_2a" -> 0.541, "q155_bpe_train" -> 6.22, "q01_scan_1a" -> 0.3)
    val body = Bench.storeJson(4, entries)
    assert(Bench.parseFileCpus(body) == Some(4))
    assert(Bench.parseMediansFile(body) == entries.toMap)
    // the form is the committed stores' own: tag line first, fixed decimals
    assert(body == "{\n  \"_cpus\": 4,\n  \"q04_agg_2a\": 0.541,\n" +
      "  \"q155_bpe_train\": 6.220,\n  \"q01_scan_1a\": 0.300\n}")
  }

  test("core-count regime: _cpus tag parses, untagged is 32-core, r41 is 8-core") {
    // tagged files: the key is invisible to the qNN-only medians regex
    val tagged = "{\n  \"_cpus\": 8,\n  \"q01_scan_1a\": 0.145\n}"
    assert(Bench.parseFileCpus(tagged) == Some(8))
    assert(Bench.parseMediansFile(tagged) == Map("q01_scan_1a" -> 0.145))
    assert(Bench.fileCpus(tagged) == 8)
    assert(Bench.fileCpus("{\n  \"q01_scan_1a\": 0.222\n}") == 32)
    def read(name: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(name))
    // medians r41 is the verified 8-core driver run
    assert(Bench.fileCpus(read("bench_medians_r41.json")) == 8)
    // the reconstructed 32-core quiet store holds no value from the
    // 8-core run's adjudication delta
    val r43 = read("bench_quiet_r43.json")
    assert(Bench.parseFileCpus(r43) == Some(32))
    assert(Bench.parseMediansFile(r43).get("q170_zipf_audit") != Some(0.377), // the 8c value
      "8-core adjudication leaked into the 32-core quiet store")
  }

  test("regression gate flags >1.5x AND >0.1s absolute only") {
    val prev = Map("slow" -> 1.0, "tiny" -> 0.05, "mild" -> 2.0,
      "faster" -> 1.0, "failed" -> 3.0)
    val cur = Seq("slow" -> 1.6, "tiny" -> 0.09, "mild" -> 2.9,
      "faster" -> 0.9, "failed" -> -1.0, "new_query" -> 5.0)
    // slow: 1.6x and +0.6s -> flagged; tiny: 1.8x but +0.04s -> floor;
    // mild: 1.45x -> under ratio; faster improved; failed run and
    // queries without a previous median never flag
    val flagged = Bench.regressions(prev, cur).toMap
    assert(flagged.keySet == Set("slow"))
    assert(math.abs(flagged("slow") - 1.6) < 1e-9)
  }

  test("sbt must not print a success banner after the bench JSON (driver last-line parse)") {
    // BENCH_r15.json had rc:0 but parsed:null — the program's final
    // JSON line WAS last in its own stdout, but sbt appended
    // "[success] Total time: ..." after it and the driver's tail
    // parse read the banner. The fix is `showSuccess := false` in
    // build.sbt; this pins it so the one-line setting can't silently
    // vanish in a build refactor.
    val buildSbt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")), "UTF-8")
    assert(buildSbt.contains("showSuccess := false"),
      "build.sbt lost `showSuccess := false` - sbt's [success] banner " +
        "would print after Bench's final JSON and defeat the driver's " +
        "last-stdout-line parse (BENCH_r15 parsed:null)")
    assert(buildSbt.contains("OutputStrategy.StdoutOutput"),
      "build.sbt lost `outputStrategy := Some(OutputStrategy.StdoutOutput)`" +
        " - sbt would log the forked run's stdout with an '[info] ' " +
        "prefix, which is equally unparseable as JSON")
  }

  test("shrinkToLimit picks the most detailed candidate that fits, else the last") {
    val cands = Seq("x" * 2000, "y" * 1500, "z" * 100)
    assert(Bench.shrinkToLimit(cands, limit = 1700) == "y" * 1500)
    assert(Bench.shrinkToLimit(cands, limit = 1400) == "z" * 100)
    // nothing fits -> last (most degraded) candidate, never an exception
    assert(Bench.shrinkToLimit(Seq("a" * 50, "b" * 40), limit = 10) == "b" * 40)
  }

  test("worst_movers survives the shrink ladder (BENCH_r19 printed {})") {
    // the r19 shape: 103 rejected raises and 107/221 suspects push the
    // line onto the last candidate, which must still carry the movers
    def names(n: Int) = (1 to n).map(i => f"q$i%03d_some_long_entry_name")
    val s = Bench.FinalSummary(
      total = 599.123, sfDir = "/fixtures/tpch/sf0.1", nQueries = 403, mediansFile = "bench_medians_r50.json",
      headline = Bench.headlineQueries.map(_ -> 0.5), geomeanAll = 0.85,
      nCommonAll = 403, worstMovers = names(8).map(_ -> 2.5), regr = Nil, regrVsBest = Nil,
      suspect = names(107).map(_ -> 1.6), suspectVsBest = names(221).map(_ -> 1.7),
      confirmTimes = Nil, confirmUnreliable = false, unresolved = names(8),
      confirmSkippedBudget = true, raiseRejected = names(103),
      sweepDegraded = false, prev = "bench_medians_r48.json")
    val line = Bench.compactFinalLine(s)
    assert(line.length <= 1700, s"${line.length} chars")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("worst_movers").size() == 8)
    // the unbounded maps dropped to their counts
    assert(node.get("baseline_raise_rejected").size() == 0)
    assert(node.get("baseline_raise_rejected_n").asInt() == 103)
    assert(node.get("suspect_vs_best_n").asInt() == 221)
  }

  test("confirm cap: severity order, budget cut, sub-second tail dropped first") {
    val sweep = Map("big" -> 10.0, "mid" -> 2.0, "tiny" -> 0.3, "new" -> 5.0)
    val base = Map("big" -> 4.0, "mid" -> 1.0, "tiny" -> 0.1)
    // HISTORY FIRST (round-17 advice): "new" has no baseline, so its
    // raw delta (5.0 vs 0) would outrank every real regression with
    // history — never-baselined entries now confirm AFTER all
    // baselined ones. Order: big +6.0, mid +1.0, tiny +0.2, then new
    val all = Seq("tiny", "mid", "big", "new")
    assert(Bench.capBySeverity(all, sweep, base, budgetSec = 1e9) ==
      Seq("big", "mid", "tiny", "new"))
    // QUIET-COST pricing (round-18): the fork re-times on a quiet JVM,
    // so a baselined entry costs ~reps x min(sweep, 1.3 x base):
    // big 3*5.2+1=16.6, mid 3*1.3+1=4.9, tiny 3*0.13+1=1.39; "new"
    // (no baseline) keeps the sweep price 3*5+1=16. Fixed 45 s +
    // 16.6+4.9+1.39=67.9 fits a 70 s budget; new (16) would not
    val capped = Bench.capBySeverity(all, sweep, base, budgetSec = 70.0)
    assert(capped == Seq("big", "mid", "tiny"), capped.toString)
    // a sweep-side aging SPIKE must not reprice the confirm: big read
    // 40 s in the sweep but its quiet re-measure still costs ~16.6 —
    // everything keeps fitting the same 70 s budget
    val spiked = sweep + ("big" -> 40.0)
    assert(Bench.capBySeverity(all, spiked, base, budgetSec = 70.0) ==
      Seq("big", "mid", "tiny"))
    // a budget below the fixed cost forks nothing (skip semantics)
    assert(Bench.capBySeverity(all, sweep, base, budgetSec = 40.0).isEmpty)
    // SKIP-AND-CONTINUE (review fix): one GENUINELY expensive entry
    // (base 40 -> quiet cost 121) too big for the budget must not
    // starve the cheap entries behind it
    val huge = sweep + ("huge" -> 70.0)
    val baseH = base + ("huge" -> 40.0)
    assert(Bench.capBySeverity(all :+ "huge", huge, baseH, budgetSec = 100.0) ==
      Seq("big", "mid", "tiny", "new"))
  }

  test("headline queries for the compact last line all exist in SparkEntry") {
    // the compact line's bounded "queries" object must never carry a
    // stale name (renamed/removed query would print -1.000 forever)
    val missing = Bench.headlineQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"stale headline queries: $missing")
  }

  test("artifact contract: a real Bench run's LAST stdout line is compact final JSON; full map on an earlier line") {
    // The end-to-end format gate the driver depends on: fork graft.Bench
    // in a fresh JVM (exactly how the driver's sbt fork runs it, minus
    // sbt) against sf0.001 with single-run timing, then assert
    //   - exit code 0,
    //   - the last stdout line parses as JSON,
    //   - phase is "final" and the line is SHORTER than the driver's
    //     ~2,000-char stdout-tail capture (BENCH_r16 had rc=0 and
    //     last-line JSON yet parsed:null because the 402-entry map made
    //     the line longer than the tail — round-17 verdict #1),
    //   - an EARLIER final_detail line carries EVERY SparkEntry query.
    // This would have caught the rc=124 rounds (no final line), the r14
    // print-after-JSON race, and the r16 oversized-line truncation.
    import scala.jdk.CollectionConverters._
    // ADVICE r16: this fork needs the driver's fixture tree + a quiet
    // multi-core box — cancel (not fail) where the fixture is absent so
    // `sbt test` stays hermetic off this machine
    assume(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists(),
      "sf0.001 fixture absent - bench self-check only runs on the driver box")
    val pb = new ProcessBuilder(Bench.childJvm("graft.Bench", Nil).asJava)
    // run in a scratch dir: the bench must not read this checkout's
    // medians history (slow confirm paths) nor write into it
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-bench-selfcheck").toFile
    pb.directory(scratch)
    // single-run sweep in a history-less scratch dir: no baselines ->
    // one run per entry, no regression flags, no confirm forks; a
    // same-shape run measured 682 s at 2-3 runs/entry, so one run
    // fits ~350-450 s — the 900 s budget is headroom, not target
    pb.environment().put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    pb.environment().put("SPARK_GRAFT_RUNS", "1")
    pb.environment().put("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // the hypervisor-shared box reads 2-4x loud in bad windows; the
    // margin keeps a slow-window sweep from flaking the contract test
    pb.environment().put("SPARK_GRAFT_BENCH_BUDGET_SEC", "1100")
    val p = pb.start()
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    val tOut = new Thread(() => { try p.getInputStream.transferTo(out) catch { case _: Throwable => } })
    val tErr = new Thread(() => { try p.getErrorStream.transferTo(err) catch { case _: Throwable => } })
    tOut.setDaemon(true); tErr.setDaemon(true); tOut.start(); tErr.start()
    val done = p.waitFor(1200, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    tOut.join(5000); tErr.join(5000)
    assert(done, "bench self-check fork exceeded its budget (rc=124 class)")
    val rc = p.exitValue()
    val stdout = out.toString("UTF-8")
    assert(rc == 0,
      s"bench exited $rc; stderr tail: ${err.toString("UTF-8").takeRight(800)}")
    val lines = stdout.split("\n").map(_.trim).filter(_.nonEmpty)
    assert(lines.nonEmpty, "bench printed nothing to stdout")
    val last = lines.last
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = // parse failure = the driver's parsed:null failure mode
      try mapper.readTree(last)
      catch { case e: Exception =>
        fail(s"last stdout line is not JSON (${e.getMessage}): " +
          s"${last.takeRight(300)}")
      }
    assert(node.get("phase").asText() == "final",
      "last line is not the final-phase publish")
    assert(last.length < 1800,
      s"compact final line is ${last.length} chars - exceeds the " +
        "driver's ~2,000-char stdout-tail capture margin (r16 parsed:null)")
    val want = SparkEntry.queries.keySet
    assert(node.get("n_queries").asInt() == want.size,
      "n_queries on the compact line disagrees with SparkEntry")
    val qNode = node.get("queries")
    assert(qNode != null && qNode.isObject,
      "no headline queries object in last line")
    val headGot = qNode.fieldNames().asScala.toSet
    assert(headGot == Bench.headlineQueries.toSet,
      s"headline queries mismatch: $headGot")
    // the FULL per-query map must survive on an earlier stdout line
    // (phase final_detail)
    val detail = lines.reverse.drop(1).find { l =>
      l.startsWith("{\"metric\"") && l.contains("\"phase\":\"final_detail\"")
    }
    assert(detail.isDefined, "no final_detail line before the compact line")
    val dNode = mapper.readTree(detail.get)
    val got = dNode.get("queries").fieldNames().asScala.toSet
    assert(got == want,
      s"final_detail queries mismatch: missing ${(want diff got).take(5)}, " +
        s"extra ${(got diff want).take(5)} (of ${want.size})")
  }
}
