package graft.tools

/** Median-time a comma-separated list of driver entries on a fresh
  * JVM — the diagnostic that separates plan cost from bench-sweep
  * session aging (a 400-entry session reads sub-second entries ~1.5-3x
  * slow). Each entry runs 5 times through the sweep's own
  * `Bench.timeNoop` and prints one `[quick] <name> median=<s>` line; an
  * entry that throws prints median=-1.000 and the others still run.
  *
  * Usage: runMain graft.tools.QuickTime q40_lang_id,q28_percentiles
  */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(appName = "quicktime")
    spark.sparkContext.setLogLevel("ERROR")
    val reps = 5
    names.foreach { n =>
      val ts = Seq.fill(reps)(scala.util.Try(graft.Bench.timeNoop(spark)(
        graft.SparkEntry.queries(n)(spark, sfDir))).getOrElse(-1.0)).sorted
      val med = if (ts.contains(-1.0)) -1.0 else ts(reps / 2)
      println(f"[quick] $n median=$med%.3f min=${ts.head}%.3f max=${ts.last}%.3f")
    }
    spark.stop()
  }
}
