package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskFailedReason
import org.apache.spark.graftbus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.Tables

/** Sink + metrics layer (SURVEY.md §2 O9, §3.1 step 11).
  *
  * The reference writes every task output to S3 with `linecount` /
  * `processingtime` / `memoryUsage` user-metadata
  * (`src/python/mapper.py:64-72`, `src/python/reducer.py:73-77`) and
  * the driver folds that into a Lambda-seconds + S3-requests cost
  * model (`src/python/driver.py:216-279`, formulas `:259-269`).
  * Spark-native: writers are `df.write`, per-task metrics come from one
  * recorder ([[Sinks.withMetrics]]), and the cost model is reproduced
  * as a reporting utility over those metrics.
  */
object Sinks {

  /** Columnar sink — the default at scale. One file per partition;
    * never coalesce(1) large outputs (the reference's single-reducer
    * cliff, /root/reference/README.md:149).
    */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Line sink matching the reference's key,value CSV output format
    * (`src/nodejs/utils.js:33-39`). `codec` "gzip" emits `.csv.gz`
    * part files — the write-side twin of the reference's gzip read
    * path (`src/nodejs/mapper.js:71-79`); Tables.csv reads them back
    * transparently.
    */
  def writeCsv(df: DataFrame, path: String,
      codec: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").option("header", "false")
    codec.foreach(c => w.option("compression", c))
    w.csv(path)
  }

  /** Globally-sorted columnar output at scale: `repartitionByRange`
    * samples the sort key and assigns disjoint key ranges to
    * partitions, `sortWithinPartitions` orders each one — so file N's
    * keys all precede file N+1's and every file is internally sorted,
    * WITHOUT a single-reducer global sort (the reference's 1536 MB
    * single-Lambda cliff, /root/reference/README.md:149, is exactly
    * what this avoids). Readers get sorted output by concatenating
    * files in partition order.
    */
  def writeSortedParquet(
      df: DataFrame, path: String, sortCol: String,
      partitions: Int = 0): Unit =
    writeSortedParquetBy(df, path, Seq(sortCol), partitions)

  /** Multi-column variant: sort by `sortCols` left-to-right. Include a
    * unique tiebreak column to make the global order TOTAL — then file
    * ranges are disjoint even when the leading key has ties at a
    * partition boundary.
    */
  def writeSortedParquetBy(
      df: DataFrame, path: String, sortCols: Seq[String],
      partitions: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(col)
    val ranged =
      if (partitions > 0) df.repartitionByRange(partitions, cols: _*)
      else df.repartitionByRange(cols: _*)
    ranged.sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed catalog table: rows hash-partitioned into 8 files per
    * partition by `bucketCol`, sorted within buckets. Two
    * tables bucketed the same way join WITHOUT any shuffle exchange —
    * the co-located-join strategy for repeated fact-fact joins at
    * 100 TB (pay the shuffle once at write time, never again at read).
    * RelationalSpec asserts the exchange-free plan.
    */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String): Unit = {
    val spark = df.sparkSession
    // true overwrite: a location orphaned by a previous session (the
    // in-memory catalog forgets tables on exit, files persist) blocks
    // CREATE, so clear both catalog entry and location first
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(8, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Compaction plan for [[compactParquet]]: the input directory's
    * live bytes decide the output file count (ceil(bytes/target)),
    * and the merge is a `coalesce` — NO shuffle exchange: each of the
    * n write tasks streams several small files end-to-end, which is
    * the whole economics of compaction (a `repartition` would pay a
    * full shuffle of the table to fix a layout problem). Returned as
    * (frame, n) so callers and specs can inspect the plan before the
    * write. Trade-off documented: coalesce inherits input skew; a
    * size-balanced variant is `repartition(n)` at shuffle cost.
    */
  def compactionPlan(
      spark: SparkSession, inPath: String,
      targetBytes: Long): (DataFrame, Int) = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    (Tables.parquet(spark, inPath).coalesce(n), n)
  }

  /** Small-file compaction (q85): rewrite a parquet directory into
    * ~ceil(bytes/targetBytes) files. THE recurring 100 TB ops task —
    * streaming ingests and over-parallel writes leave thousands of
    * KB-scale files per partition, and scan cost is per-file (open +
    * footer + seek, the reference's per-S3-object GET economics,
    * `driver.py:266-267`) long before it is per-byte. Returns the
    * ACTUAL output file count, which can be below the plan's n:
    * `coalesce(n)` cannot raise partition count above the scan's, so
    * a directory of a few LARGE files compacts to at most
    * scan-partition-many outputs (that input isn't fragmented — the
    * small-file case this operator exists for always has files ≥ n).
    * Empty or non-parquet input is a caller error (the read throws).
    */
  def compactParquet(
      spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L << 20): Int = {
    val (df, _) = compactionPlan(spark, inPath, targetBytes)
    df.write.mode("overwrite").parquet(outPath)
    val out = new org.apache.hadoop.fs.Path(outPath)
    out.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(out)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** What the reference tracks per task object (rows out, wall
    * seconds, executor cpu-seconds, bytes read/written, shuffle
    * traffic), plus what a check of a run counts: jobs started, shuffle
    * records written, the first line of every failed task's reason,
    * and every SQL execution that finished, in completion order.
    */
  case class JobMetrics(
      rowsOut: Long,
      wallSeconds: Double,
      executorCpuSeconds: Double,
      executorRunSeconds: Double,
      bytesRead: Long,
      bytesWritten: Long,
      shuffleBytes: Long,
      peakMemory: Long,
      jobs: Int,
      shuffleRecords: Long,
      failedTasks: Seq[String],
      executions: Seq[Execution]) {

    /** The reference's published cost model (driver.py:259-269):
      * Lambda $0.00001667/GB-s at the configured container size plus
      * S3 request costs. Mapped: executor-run-seconds stand in for
      * Lambda-seconds at `containerGb`; storage requests are scans
      * (GET-shaped) and written files (PUT-shaped) approximated from
      * 128 MB request granularity. A reporting utility, not billing.
      */
    def estimatedCostUsd(containerGb: Double = 1.5): Double = {
      val lambdaRate = 0.00001667 // $/GB-s (driver.py:261)
      val getRate = 0.004 / 10000 // $/GET (driver.py:267)
      val putRate = 0.005 / 1000  // $/PUT (driver.py:266)
      val gets = math.ceil(bytesRead.toDouble / (128 << 20)).toLong
      val puts = math.ceil(bytesWritten.toDouble / (128 << 20)).toLong
      executorRunSeconds * containerGb * lambdaRate +
        gets * getRate + puts * putRate
    }
  }

  /** One finished SQL execution: the action that started it
    * (`collect`, `localCheckpoint`, a write's save mode, ...), its
    * plans, and the error it failed with, if it failed.
    */
  case class Execution(action: String, qe: QueryExecution, failure: Option[Exception])

  /** How long [[withMetrics]] waits for jobs still running after
    * `action` returns.
    */
  private val LeftoverJobWaitNs = 60L * 1000000000L

  /** Run `action` and record what the whole SparkContext runs meanwhile:
    * the Spark twin of the reference's metadata-on-every-object
    * protocol, and the one recorder of a run in this code base.
    *
    * It watches every job of the context, not only those `action`
    * starts on its own thread, and never filters a failed task out.
    * AQE can leave a job running after `action` returns (a broadcast
    * for a join side it pruned), so it waits, up to 60 s, until the
    * context has no active job; then it drains the asynchronous
    * listener bus before it reads the counts. Both listeners are
    * removed afterwards.
    */
  def withMetrics[T](spark: SparkSession)(action: => T): (T, JobMetrics) = {
    val rows = new LongAdder; val cpu = new LongAdder; val run = new LongAdder
    val read = new LongAdder; val written = new LongAdder
    val shuffle = new LongAdder; val shuffleRecs = new LongAdder
    val peak = new AtomicLong; val jobs = new LongAdder
    val failed = new ConcurrentLinkedQueue[String]
    val executions = new ConcurrentLinkedQueue[Execution]
    val tasks = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        t.reason match {
          case org.apache.spark.Success => ()
          case r: TaskFailedReason =>
            failed.add(r.toErrorString.linesIterator.nextOption().getOrElse(""))
        }
        val m = t.taskMetrics
        if (m != null) {
          rows.add(m.outputMetrics.recordsWritten)
          cpu.add(m.executorCpuTime)        // ns
          run.add(m.executorRunTime)        // ms
          read.add(m.inputMetrics.bytesRead)
          written.add(m.outputMetrics.bytesWritten)
          shuffle.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecs.add(m.shuffleWriteMetrics.recordsWritten)
          peak.accumulateAndGet(m.peakExecutionMemory, math.max)
        }
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(Execution(action, qe, None))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(Execution(action, qe, Some(e)))
    }
    val sc = spark.sparkContext
    // events of earlier runs still queued would reach the new listeners
    graftbus.drainListenerBus(sc)
    sc.addSparkListener(tasks)
    spark.listenerManager.register(queries)
    val t0 = System.nanoTime()
    try {
      val out = action
      // the status tracker learns of jobs through the bus: drain first
      graftbus.drainListenerBus(sc)
      val deadline = System.nanoTime() + LeftoverJobWaitNs
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      graftbus.drainListenerBus(sc)
      val metrics = JobMetrics(
        rowsOut = rows.sum(),
        wallSeconds = (System.nanoTime() - t0) / 1e9,
        executorCpuSeconds = cpu.sum() / 1e9,
        executorRunSeconds = run.sum() / 1e3,
        bytesRead = read.sum(),
        bytesWritten = written.sum(),
        shuffleBytes = shuffle.sum(),
        peakMemory = peak.get(),
        jobs = jobs.intValue(),
        shuffleRecords = shuffleRecs.sum(),
        failedTasks = failed.asScala.toSeq,
        executions = executions.asScala.toSeq)
      (out, metrics)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(tasks)
    }
  }
}
