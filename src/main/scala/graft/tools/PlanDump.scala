package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.sinks.Sinks

/** Dump the plans of a list of driver entries to files — the
  * optimization-round evidence artifact (plans/r{N}/<query>_<tag>.txt).
  * Each file holds every SQL execution that building the entry and
  * writing it to `noop` starts, in order: each `localCheckpoint` pin,
  * each driver-side collect of an iterative trainer (BPE, IVF, ...),
  * and the final write. So an entry that returns a pinned frame shows
  * the pipeline that filled the pin, not just a `Scan ExistingRDD`.
  *
  * Per execution the file holds the optimized logical plan, the
  * physical plan before AQE and the formatted executed plan. The first
  * two are the same in every run of one commit (except q283, whose
  * Expand lists its two distinct aggregates in either order); the
  * executed plan is not (AQE picks build sides, exchange reuse and
  * stage order from which stage finishes first), so compare commits on
  * the first two.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> q01_scan_1a,q02_scan_1b
  */
object PlanDump {

  /** The plans (see above) of every SQL execution (successful or
    * failed) that `SparkEntry.queries(name)` and a `noop` write of its
    * result start, in completion order.
    */
  def executions(spark: SparkSession, sfDir: String, name: String): Seq[String] =
    Sinks.withMetrics(spark)(
      graft.Bench.timeNoop(spark)(graft.SparkEntry.queries(name)(spark, sfDir))
    )._2.executions.map { case Sinks.Execution(action, qe, failure) =>
      s"== $action (${failure.fold("ok")(e => s"failed: $e")}) ==\n" +
        s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n" +
        s"== Spark Plan (pre-AQE) ==\n${qe.sparkPlan}\n" +
        qe.explainString(FormattedMode)
    }

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
        try executions(spark, sfDir, n).mkString("\n")
        catch { case e: Throwable => s"PLAN DUMP FAILED: $e" }
      Files.write(outDir.resolve(s"${n}_$tag.txt"), text.getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$tag.txt (${text.length} chars)")
    }
    spark.stop()
  }
}
