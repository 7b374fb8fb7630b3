package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output for a list of driver entries to
  * files — the optimization-round evidence artifact (plans/r{N}/
  * <query>_<tag>.txt). Iterative trainers (BPE, IVF, ...) execute
  * their driver-side loop when the entry function is invoked; for
  * those the dumped plan is the FINAL returned frame (often a local
  * relation) — the per-round plans are what the loop scaladocs
  * document.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> q01_scan_1a,q02_scan_1b
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = graft.GraftSession.local(appName = "plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val text =
        try {
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: $e"
        }
      Files.write(outDir.resolve(s"${n}_$tag.txt"), text.getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$tag.txt (${text.length} chars)")
    }
    spark.stop()
  }
}
