package perfbench

import java.io.File
import java.time.{Duration, Instant}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, substring}

import graft.GraftSession
import graft.operators.{MapReduceSurface, ReferenceQueries}
import graft.sinks.Sinks
import graft.sources.Tables

/** One query of a workload. `run` makes the timed execution and ends in
  * the `noop` sink or a `graft.sinks.Sinks` write; `check` recomputes the
  * result untimed and returns a message when it differs from the
  * generator's expected values.
  */
case class Query(name: String, run: Tracer => Unit, check: () => Option[String])

/** The queries of one pass, and the input one pass reads: every raw line
  * the sources scan counts as a row.
  */
case class Workload(queries: Seq[Query], rowsPerPass: Long, bytesPerPass: Long)

/** The benchmark's process: one session, one client in a closed loop.
  *
  * The process starts the session, makes the workload's first (cold)
  * pass, untimed warm-up passes, warm passes for the requested
  * seconds, and the result checks. The raw samples go as one JSON object
  * to the `--out` file; `run.py` turns them into metrics. With
  * `--trace 1`, every second warm pass is traced.
  *
  * Usage: `perfbench.Harness --workload uv_query|uv_etl
  *   --data DIR --work DIR --seconds N --trace 0|1 --cores N --out FILE`
  */
object Harness {

  /** Relative tolerance for the double `sum` of the `mapReduce` path, whose
    * last bits depend on the order the partial sums merge in.
    */
  val MapReduceRelTol = 1e-9

  /** Untimed warm-up between the cold pass and the measured ones: at least
    * this many passes and this many seconds, and no more than the cap.
    * With the heap committed up front, JIT compilation still shortens
    * passes for the first five or six after the cold one; measuring
    * earlier lands on that slope, and where on it depends on how fast the
    * host is that minute.
    */
  val WarmupPasses = 6
  val WarmupSeconds = 12.0
  val WarmupCapSeconds = 30.0

  /** Measured passes a run makes even when they outlast `--seconds`. */
  val MinMeasuredPasses = 4

  /** The user mapper of the reference's 2a job (`mapper.py:50-54`): split
    * the raw line on commas, key by the first 8 characters of field 0,
    * sum field 3, and drop the line when field 3 is not a number.
    */
  def mapper2a(line: String): Option[(String, Double)] = {
    val data = line.split(',')
    try Some((data(0).take(8), data(3).toDouble))
    catch { case _: NumberFormatException | _: ArrayIndexOutOfBoundsException => None }
  }

  def agg2a(visits: DataFrame): DataFrame =
    visits
      .select(substring(col("sourceIP"), 1, 8).as("prefix"), col("adRevenue"))
      .groupBy(col("prefix"))
      .agg(ReferenceQueries.moneySum(col("adRevenue")).as("revenue"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Exact check of a money-sum 2a result against expected cents. */
  def checkCents(rows: Seq[(String, Double)], exp: UvGen.Expected): Option[String] = {
    val got = rows.toMap
    if (got.size != rows.size) return Some("duplicate 2a keys")
    if (got.keySet != exp.centsByPrefix.keySet)
      return Some(s"2a key set differs: ${got.size} keys, expected ${exp.centsByPrefix.size}")
    exp.centsByPrefix.collectFirst {
      case (k, c) if got(k) != java.math.BigDecimal.valueOf(c, 2).doubleValue =>
        s"2a $k: ${got(k)} != ${java.math.BigDecimal.valueOf(c, 2)}"
    }
  }

  def checkCentsApprox(rows: Seq[(String, Double)], exp: UvGen.Expected): Option[String] = {
    val got = rows.toMap
    if (got.keySet != exp.centsByPrefix.keySet)
      return Some(s"mapReduce key set differs: ${got.size} keys")
    exp.centsByPrefix.collectFirst {
      case (k, c) if math.abs(got(k) - c / 100.0) > MapReduceRelTol * math.abs(c / 100.0) =>
        s"mapReduce $k: ${got(k)} vs ${c / 100.0}"
    }
  }

  def workload(name: String, spark: SparkSession, data: String, work: String,
      exp: UvGen.Expected): Workload = {
    import spark.implicits._
    val uv = s"$data/uservisits"
    val rankings = s"$data/rankings"
    def collect2a(df: DataFrame): Seq[(String, Double)] =
      df.as[(String, Double)].collect().toSeq

    val scan1a = Query("scan_1a",
      tr => {
        val r = tr.span("sources")(Tables.csv(spark, rankings, Tables.rankingsSchema))
        val df = tr.built(tr.span("operators")(
          r.filter(col("pageRank") > UvGen.ScanThreshold).select("pageURL", "pageRank")))
        tr.span("exec")(noop(df))
      },
      () => {
        val rows = Tables.csv(spark, rankings, Tables.rankingsSchema)
          .filter(col("pageRank") > UvGen.ScanThreshold).select("pageURL", "pageRank")
          .as[(String, Int)].collect()
        val crc = new java.util.zip.CRC32
        val crcSum = rows.map { case (u, _) =>
          crc.reset(); crc.update(u.getBytes("UTF-8")); crc.getValue
        }.sum
        val got = (rows.length.toLong, rows.map(_._2.toLong).sum, crcSum)
        val want = (exp.scanRows, exp.scanRankSum, exp.scanUrlCrcSum)
        if (got == want) None else Some(s"scan 1a (rows, rank sum, url crc) $got != $want")
      })

    val agg2aDeclared = Query("agg_2a_declared",
      tr => {
        val v = tr.span("sources")(Tables.csv(spark, uv, Tables.uservisitsSchema))
        val df = tr.built(tr.span("operators")(agg2a(v)))
        tr.span("exec")(noop(df))
      },
      () => checkCents(collect2a(agg2a(Tables.csv(spark, uv, Tables.uservisitsSchema))), exp))

    def mapReduce2a(lines: Dataset[String]): DataFrame =
      MapReduceSurface.mapReduce[String](lines, mapper2a(_))
    val agg2aMapReduce = Query("agg_2a_mapreduce",
      tr => {
        val lines = tr.span("sources")(spark.read.textFile(uv))
        val df = tr.built(tr.span("operators")(mapReduce2a(lines)))
        tr.span("exec")(noop(df))
      },
      () => checkCentsApprox(collect2a(mapReduce2a(spark.read.textFile(uv))), exp))

    val etlDir = s"$work/etl"
    val etlWrite = Query("etl_write",
      tr => {
        val v = tr.span("sources")(Tables.csv(spark, uv, Tables.uservisitsSchema))
        tr.span("sinks")(Sinks.writeParquet(tr.built(v), s"$etlDir/uservisits.parquet"))
      },
      () => {
        val n = spark.read.parquet(s"$etlDir/uservisits.parquet").count()
        if (n == exp.goodRows) None else Some(s"parquet rows $n != ${exp.goodRows}")
      })
    val etlAgg2a = Query("agg_2a_parquet",
      tr => {
        val v = tr.span("sources")(Tables.load(spark, etlDir, "uservisits"))
        val df = tr.built(tr.span("operators")(agg2a(v)))
        tr.span("exec")(noop(df))
      },
      () => checkCents(collect2a(agg2a(Tables.load(spark, etlDir, "uservisits"))), exp))

    name match {
      case "uv_query" => Workload(Seq(scan1a, agg2aDeclared, agg2aMapReduce),
        exp.rankingsRows + 2 * exp.uservisitsLines,
        exp.rankingsBytes + 2 * exp.uservisitsBytes)
      // the parquet read counts in rows but not in bytes: it is the
      // pass's own output, not input
      case "uv_etl" => Workload(Seq(etlWrite, etlAgg2a),
        exp.uservisitsLines + exp.goodRows, exp.uservisitsBytes)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Heap still in use after a full collection: what the process keeps
    * between queries, such as caches.
    */
  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(tr: Tracer, self: Map[(Int, String), Double], pass: Int, cores: Int)
      : Map[String, Double] = {
    val c = tr.counts(pass)
    def s(layer: String): Double = self.getOrElse((pass, layer), 0.0)
    val execS = s("exec")
    val busyS = c.taskBusyMs("exec") / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "sources.load_s" -> s("sources"),
      "sources.load_jobs" -> c.jobs("sources").toDouble,
      "sources.rows_read" -> c.scanRows.toDouble,
      "sources.bytes_read" -> c.scanBytes.toDouble,
      "sources.files_read" -> c.scanFiles.toDouble,
      "operators.build_s" -> s("operators"),
      "operators.build_jobs" -> c.jobs("operators").toDouble,
      "operators.build_tasks" -> c.tasks("operators").toDouble,
      "plans.analysis_s" -> c.analysisMs / 1e3,
      "plans.optimization_s" -> c.optimizationMs / 1e3,
      "plans.planning_s" -> c.planningMs / 1e3,
      "plans.scan_nodes" -> c.scanNodes.toDouble,
      "plans.exchange_nodes" -> c.exchangeNodes.toDouble,
      "plans.broadcast_nodes" -> c.broadcastNodes.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> c.jobs("exec").toDouble,
      "exec.stages" -> c.stages("exec").toDouble,
      "exec.tasks" -> c.tasks("exec").toDouble,
      "exec.task_busy_s" -> busyS,
      "exec.task_wait_s" -> c.taskWaitMs("exec") / 1e3,
      "exec.core_util" -> (if (execS > 0) busyS / (execS * cores) else 0.0),
      "exec.shuffle_write_mb" -> c.shuffleWriteBytes("exec") / mb,
      "exec.spill_mb" -> c.spillBytes("exec") / mb,
      "exec.gc_s" -> tr.execGcS(pass),
      "exec.failed_tasks" -> c.failedTasks("exec").toDouble,
      "sinks.write_s" -> s("sinks"),
      "sinks.rows_written" -> c.rowsWritten("sinks").toDouble,
      "sinks.bytes_written" -> c.bytesWritten("sinks").toDouble)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val processStart = ProcessHandle.current().info().startInstant().get()

    val exp = UvGen.Expected.read(new File(data, "expected.json"))
    val t0 = System.nanoTime()
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
        shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val readyS = Duration.between(processStart, Instant.now()).toNanos / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val wl = workload(name, spark, data, work, exp)
    val queries = wl.queries
    val tr = new Tracer(spark)
    var attempted, failed = 0
    val messages = mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (messages.size < 20) messages += msg }
    val queryWalls = queries.map(_.name -> mutable.ArrayBuffer[Double]()).toMap
    def runPass(id: Int, traced: Boolean, record: Boolean): Double = {
      // flush the files the last pass wrote, untimed, so that their
      // write-back does not land inside the next timed pass
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      tr.pass(id, traced) {
        queries.foreach { q =>
          val q0 = System.nanoTime()
          attempted += 1
          try tr.span("query")(q.run(tr))
          catch { case NonFatal(e) => fail(s"${q.name}: $e") }
          if (record) queryWalls(q.name) += (System.nanoTime() - q0) / 1e9
        }
      }
    }

    val coldS = runPass(0, traced = false, record = false)
    val w0 = System.nanoTime()
    def warmS = (System.nanoTime() - w0) / 1e9
    var i = 1
    while ((i <= WarmupPasses || warmS < WarmupSeconds) && warmS < WarmupCapSeconds) {
      // an untraced run traces its first warm-up pass, for the structure
      // counts; a traced run traces only measured passes
      runPass(i, traced = !traced && i == 1, record = false)
      i += 1
    }
    // warm passes for the requested time; traced runs alternate untraced
    // and traced passes so both see the same conditions
    val passWalls, tracedWalls = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passWalls.size < MinMeasuredPasses || (traced && tracedWalls.size < MinMeasuredPasses) ||
        System.nanoTime() < deadline) {
      val t = traced && i % 2 == 0
      val wall = runPass(i, t, record = !t)
      (if (t) tracedWalls else passWalls) += wall
      i += 1
    }

    val tracedIds = tr.counts.keys.toSeq.sorted
    val self = tr.selfSeconds
    val layers = tracedIds.map(p => layerMetrics(tr, self, p, cores))

    // result checks, untimed
    queries.foreach { q =>
      attempted += 1
      try q.check().foreach(m => fail(s"${q.name}: $m"))
      catch { case NonFatal(e) => fail(s"${q.name} check: $e") }
    }
    attempted += 1
    val (_, _, dropped) =
      Tables.droppedLineCount(spark, s"$data/uservisits", Tables.uservisitsSchema)
    if (dropped != exp.badLines) fail(s"rows_dropped $dropped != ${exp.badLines}")
    val etl = new File(s"$work/etl/uservisits.parquet")
    val written = Option(etl.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

    if (traced) Json.writeValue(new File(work, "spans.json"), tr.spans)

    Json.writeValue(new File(opt("out")), Map(
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "session_start_s" -> sessionStartS, "ready_s" -> readyS, "cold_pass_s" -> coldS,
      "setup_s" -> (readyS + coldS),
      "pass_walls" -> passWalls, "traced_pass_walls" -> tracedWalls,
      "query_walls" -> queryWalls,
      "rows_per_pass" -> wl.rowsPerPass, "input_bytes_per_pass" -> wl.bytesPerPass,
      "rows_dropped" -> dropped, "files_written" -> written.size, "layers" -> layers,
      "attempted" -> attempted, "failed" -> failed, "messages" -> messages,
      "peak_rss_mb" -> peakRssMb(), "heap_live_mb" -> liveHeapMb()))
    spark.stop()
  }
}
