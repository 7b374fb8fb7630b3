package graft.sinks

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import graft.sources.Tables

/** Sink + metrics layer (SURVEY.md §2 O9, §3.1 step 11).
  *
  * The reference writes every task output to S3 with `linecount` /
  * `processingtime` / `memoryUsage` user-metadata
  * (`src/python/mapper.py:64-72`, `src/python/reducer.py:73-77`) and
  * the driver folds that into a Lambda-seconds + S3-requests cost
  * model (`src/python/driver.py:216-279`, formulas `:259-269`).
  * Spark-native: writers are `df.write`, per-task metrics come from a
  * SparkListener, and the cost model is reproduced as a reporting
  * utility over those metrics.
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

  /** Per-job metrics the reference tracks per task object: rows out,
    * wall seconds, executor cpu-seconds, bytes read/written, shuffle
    * traffic.
    */
  case class JobMetrics(
      rowsOut: Long,
      wallSeconds: Double,
      executorCpuSeconds: Double,
      executorRunSeconds: Double,
      bytesRead: Long,
      bytesWritten: Long,
      shuffleBytes: Long,
      peakMemory: Long) {

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

  /** Run `action` while aggregating task metrics — the Spark twin of
    * the reference's metadata-on-every-object protocol. Thread-safe;
    * listener is removed afterwards.
    */
  def withMetrics[T](spark: SparkSession)(action: => T): (T, JobMetrics) = {
    val rows = new LongAdder; val cpu = new LongAdder; val run = new LongAdder
    val read = new LongAdder; val written = new LongAdder
    val shuffle = new LongAdder; val peak = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          rows.add(m.outputMetrics.recordsWritten)
          cpu.add(m.executorCpuTime)        // ns
          run.add(m.executorRunTime)        // ms
          read.add(m.inputMetrics.bytesRead)
          written.add(m.outputMetrics.bytesWritten)
          shuffle.add(m.shuffleWriteMetrics.bytesWritten)
          peak.accumulateAndGet(m.peakExecutionMemory, math.max)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val out = action
      // listener events are async; drain before reading
      org.apache.spark.graftbus.drainListenerBus(spark.sparkContext)
      val metrics = JobMetrics(
        rowsOut = rows.sum(),
        wallSeconds = (System.nanoTime() - t0) / 1e9,
        executorCpuSeconds = cpu.sum() / 1e9,
        executorRunSeconds = run.sum() / 1e3,
        bytesRead = read.sum(),
        bytesWritten = written.sum(),
        shuffleBytes = shuffle.sum(),
        peakMemory = peak.get())
      (out, metrics)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
