package graft.tools

/** Median-time a comma-separated list of driver entries on a fresh,
  * quiet JVM — the diagnostic that separates plan cost from
  * bench-sweep session aging (a 100-query session reads ~1.5-2x slow
  * on sub-second queries; see Bench's confirm-pass note). Round 7
  * used this to exonerate six "confirmed" vs-best trips.
  *
  * Usage: runMain graft.tools.QuickTime q40_lang_id,q28_percentiles
  */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench's core count (quiet stores are per core count)
    val spark = graft.GraftSession.local(appName = "quicktime")
    spark.sparkContext.setLogLevel("ERROR")
    // the sweep's own timing and hygiene (the quiet fork is the
    // sweep's regime twin)
    def once(n: String): Double =
      graft.Bench.timeNoop(spark)(graft.SparkEntry.queries(n)(spark, sfDir))
    // QUIETNESS SELF-CHECK (round-9, hardened round-10): warm up and
    // median-time a flagship, reported on a non-query label. The
    // parent (Bench.forkQuickTime) compares it to that flagship's
    // committed median: a fork launched into a still-busy window
    // (round 8's confirm pass read 2-13x high because it started right
    // after the 34-min sweep) reads the flagship high too, and the
    // parent then retries after a backoff or publishes
    // confirm_unreliable instead of numbers.
    // Round-10 hardening: the warm-up/flagship is GUARDED — in round 9
    // a fixture break made q04 throw before any [quick] line printed,
    // so every fork died at warm-up, burned 3x60s of backoff, and
    // published confirm_unreliable for the wrong reason. A flagship
    // that throws now falls back to the next candidate (q06 touches
    // lineitem only — no events dependency); if all candidates throw,
    // median=-1.000 tells the parent "crashed, don't retry" distinctly
    // from "contended, do retry". The label embeds the flagship's name
    // (flagship_check:qNN) so the parent compares against the RIGHT
    // baseline; it still does not match the q\d+_ query-name shape, so
    // no scraper can mistake it for a query median.
    def tryOnce(n: String): Double = scala.util.Try(once(n)).getOrElse(-1.0)
    val flagship = Seq("q04_agg_2a", "q06_global_sum").find(tryOnce(_) > 0)
    flagship match {
      case Some(f) =>
        val ts = Seq.fill(3)(tryOnce(f)).sorted
        val med = if (ts.contains(-1.0)) -1.0 else ts(1)
        println(f"[quick] flagship_check:$f median=$med%.3f min=${ts.head}%.3f max=${ts.last}%.3f")
      case None =>
        println("[quick] flagship_check:none median=-1.000 min=-1.000 max=-1.000")
    }
    // hand-run diagnosis keeps the 5-rep default; Bench's deadline-
    // driven confirm forks set 3 (round-15) so a fork's cost fits the
    // remaining driver budget more often
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUICK_RUNS", "5").toInt
    names.foreach { n =>
      // a query that throws must not kill the remaining re-measures
      // (Bench's confirm pass runs a whole flagged set in one fork);
      // median=-1.000 marks the failure machine-readably
      val ts = Seq.fill(reps)(scala.util.Try(once(n)).getOrElse(-1.0)).sorted
      val med = if (ts.contains(-1.0)) -1.0 else ts(reps / 2)
      println(f"[quick] $n median=$med%.3f min=${ts.head}%.3f max=${ts.last}%.3f")
    }
    spark.stop()
  }
}
