package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the executed plans of a list of driver entries to files — the
  * optimization-round evidence artifact (plans/r{N}/<query>_<tag>.txt).
  * Each file holds every SQL execution that building the entry and
  * writing it to `noop` starts, in order: each `localCheckpoint` pin,
  * each driver-side collect of an iterative trainer (BPE, IVF, ...),
  * and the final write. So an entry that returns a pinned frame shows
  * the pipeline that filled the pin, not just a `Scan ExistingRDD`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> q01_scan_1a,q02_scan_1b
  */
object PlanDump {

  /** Formatted executed plan of every SQL execution (successful or
    * failed) that `SparkEntry.queries(name)` and a `noop` write of its
    * result start, in completion order.
    */
  def executions(spark: SparkSession, sfDir: String, name: String): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def record(funcName: String, qe: QueryExecution, outcome: String): Unit =
      plans.add(s"== $funcName ($outcome) ==\n" + qe.explainString(FormattedMode))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe, "ok")
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(funcName, qe, s"failed: $exception")
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbus.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.graftbus.drainListenerBus(sc)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator).asScala.toSeq
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
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
