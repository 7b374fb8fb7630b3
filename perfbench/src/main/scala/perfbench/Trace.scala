package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the index
  * of the enclosing span (-1 for a pass), `pass` the pass it belongs to.
  */
case class Span(name: String, startNs: Long, endNs: Long, parent: Int, pass: Int)

/** Per-layer counts of one traced pass, filled from a SparkListener and a
  * QueryExecutionListener that are registered only while the pass runs.
  */
final class LayerCounts {
  val jobs = mutable.Map[String, Int]().withDefaultValue(0)
  val stages = mutable.Map[String, Int]().withDefaultValue(0)
  val tasks = mutable.Map[String, Int]().withDefaultValue(0)
  val failedTasks = mutable.Map[String, Int]().withDefaultValue(0)
  val taskBusyMs = mutable.Map[String, Long]().withDefaultValue(0L)
  val taskWaitMs = mutable.Map[String, Long]().withDefaultValue(0L)
  val shuffleWriteBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  val spillBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  val rowsWritten = mutable.Map[String, Long]().withDefaultValue(0L)
  val bytesWritten = mutable.Map[String, Long]().withDefaultValue(0L)
  var analysisMs, optimizationMs, planningMs = 0L
  var scanNodes, exchangeNodes, broadcastNodes = 0
  var scanRows, scanBytes, scanFiles = 0L
}

/** Spans and counts for the traced passes of one run. Every layer call
  * goes through [[span]]; with tracing off it only runs the body.
  *
  * Jobs are attributed to the innermost open layer through a Spark local
  * property, which the scheduler copies into every job and stage it
  * starts from this thread.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.Map[Int, LayerCounts]()
  /** JVM garbage-collection seconds spent inside exec spans, per pass. */
  val execGcS = mutable.Map[Int, Double]().withDefaultValue(0.0)
  private var activePass = -1
  private var stack: List[Int] = Nil
  private var current: LayerCounts = null
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val stageLayer = mutable.Map[Int, String]()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val jobListener = new SparkListener {
    private def layerOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(Tracer.LayerKey))).getOrElse("other")
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (current != null) current.jobs(layerOf(e.properties)) += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        if (current != null) {
          val layer = layerOf(e.properties)
          stageLayer(e.stageInfo.stageId) = layer
          stageSubmitMs(e.stageInfo.stageId) =
            e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
          current.stages(layer) += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (current != null) {
        val layer = stageLayer.getOrElse(e.stageId, "other")
        current.tasks(layer) += 1
        if (!e.taskInfo.successful) current.failedTasks(layer) += 1
        stageSubmitMs.get(e.stageId).foreach(s =>
          current.taskWaitMs(layer) += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          current.taskBusyMs(layer) += m.executorRunTime
          current.shuffleWriteBytes(layer) += m.shuffleWriteMetrics.bytesWritten
          current.spillBytes(layer) += m.memoryBytesSpilled + m.diskBytesSpilled
          current.rowsWritten(layer) += m.outputMetrics.recordsWritten
          current.bytesWritten(layer) += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized(if (current != null) recordPlan(current, qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized(if (current != null) recordPlan(current, qe))
  }

  private def recordPlan(c: LayerCounts, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
    Tracer.nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        c.scanNodes += 1
        def metric(n: String): Long = s.metrics.get(n).map(_.value).getOrElse(0L)
        c.scanRows += metric("numOutputRows")
        c.scanBytes += metric("filesSize")
        c.scanFiles += metric("numFiles")
      case _: ShuffleExchangeExec => c.exchangeNodes += 1
      case _: BroadcastExchangeExec => c.broadcastNodes += 1
      case _ =>
    }
  }

  /** Runs one pass and returns its wall time in seconds. With `traced`
    * the listeners are attached for exactly this pass and drained after
    * the wall time is taken.
    */
  def pass(id: Int, traced: Boolean)(body: => Unit): Double = {
    if (!traced) {
      val t0 = System.nanoTime()
      body
      return (System.nanoTime() - t0) / 1e9
    }
    synchronized { current = new LayerCounts; counts(id) = current }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    activePass = id
    val t0 = System.nanoTime()
    try { span("pass")(body); (System.nanoTime() - t0) / 1e9 }
    finally {
      activePass = -1
      org.apache.spark.graftbus.drainListenerBus(sc)
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
      synchronized { current = null; stageSubmitMs.clear(); stageLayer.clear() }
    }
  }

  /** Adds the analysis a DataFrame the benchmark built ran eagerly, which
    * the tracker of the executed query no longer sees.
    */
  def built[T <: org.apache.spark.sql.Dataset[_]](df: T): T = {
    if (activePass >= 0) synchronized {
      current.analysisMs += df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs).getOrElse(0L)
    }
    df
  }

  /** Times `body` as a call into `layer` when the current pass is traced. */
  def span[T](layer: String)(body: => T): T = {
    if (activePass < 0) return body
    val parent = stack.headOption.getOrElse(-1)
    val idx = spans.length
    spans += null // reserve the slot so children can point at this span
    stack = idx :: stack
    val previous = sc.getLocalProperty(Tracer.LayerKey)
    sc.setLocalProperty(Tracer.LayerKey, layer)
    val gc0 = if (layer == "exec") gcMs else 0L
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      if (layer == "exec") execGcS(activePass) += (gcMs - gc0) / 1e3
      sc.setLocalProperty(Tracer.LayerKey, previous)
      stack = stack.tail
      spans(idx) = Span(layer, t0, t1, parent, activePass)
    }
  }

  /** Self time per (pass, span name): a span's duration minus the time its
    * direct children cover.
    */
  def selfSeconds: Map[(Int, String), Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.zipWithIndex.groupMapReduce { case (s, _) => (s.pass, s.name) } {
      case (s, i) => (s.endNs - s.startNs - childNs(i)) / 1e9
    }(_ + _)
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"

  /** Every node of an executed plan, looking through AQE's final plan,
    * query stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
