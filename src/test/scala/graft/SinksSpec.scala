package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Scratch
import graft.sinks.Sinks
import graft.sources.Tables

/** O9 — sink + per-task metrics/cost (reference twin:
  * `src/python/mapper.py:64-72` metadata PUTs and the driver cost
  * rollup `src/python/driver.py:216-279`).
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def sf: String = SparkTestSession.sf

  test("writeParquet round-trips rows and schema exactly") {
    val src = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Sinks.writeParquet(src, "/tmp/graft-sink-test/orders_pq")
    val back = spark.read.parquet("/tmp/graft-sink-test/orders_pq")
    assert(back.schema == src.schema)
    val a = src.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = back.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("writeParquet with partitionBy lays out one directory per key") {
    val src = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
    Sinks.writeParquet(src, "/tmp/graft-sink-test/li_part", Seq("l_returnflag"))
    val dirs = new java.io.File("/tmp/graft-sink-test/li_part")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    val flags = src.select("l_returnflag").distinct()
      .collect().map(r => s"l_returnflag=${r.getString(0)}").toSet
    assert(dirs == flags)
    // partition pruning: reading one key touches only its directory
    val one = spark.read.parquet("/tmp/graft-sink-test/li_part")
      .filter(col("l_returnflag") === "R")
    val expected = src.filter(col("l_returnflag") === "R").count()
    assert(one.count() == expected)
  }

  test("writeCsv emits the reference's key,value line format and round-trips") {
    val agg = operators.ReferenceQueries.agg2a(spark, sf)
    Sinks.writeCsv(agg, "/tmp/graft-sink-test/agg_csv")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("etype_prefix",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("sum_value",
        org.apache.spark.sql.types.DoubleType)))
    val back = Tables.csv(spark, "/tmp/graft-sink-test/agg_csv", schema)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val orig = agg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back == orig) // doubles survive text round-trip bit-exactly
  }

  test("writeCsv with gzip codec round-trips through the gzip read path") {
    val agg = operators.ReferenceQueries.agg2a(spark, sf)
    Sinks.writeCsv(agg, "/tmp/graft-sink-test/agg_gz", codec = Some("gzip"))
    val files = new java.io.File("/tmp/graft-sink-test/agg_gz")
      .listFiles().map(_.getName).filter(_.endsWith(".csv.gz"))
    assert(files.nonEmpty, "expected .csv.gz part files")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("etype_prefix",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("sum_value",
        org.apache.spark.sql.types.DoubleType)))
    val back = Tables.csv(spark, "/tmp/graft-sink-test/agg_gz", schema)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val orig = agg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back == orig)
  }

  test("writeSortedParquet: disjoint ranges across files, sorted within each") {
    val src = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Sinks.writeSortedParquet(src, "/tmp/graft-sink-test/sorted_pq",
      "o_totalprice", partitions = 4)
    val files = new java.io.File("/tmp/graft-sink-test/sorted_pq")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(files.length > 1, "expect multiple range files")
    val perFile = files.map { f =>
      val vals = spark.read.parquet(s"/tmp/graft-sink-test/sorted_pq/$f")
        .select("o_totalprice").collect().map(_.getDouble(0))
      assert(vals.sameElements(vals.sorted), s"$f not internally sorted")
      (vals.min, vals.max)
    }
    // partition N's max <= partition N+1's min (disjoint ranges)
    perFile.sliding(2).foreach {
      case Array((_, maxA), (minB, _)) => assert(maxA <= minB)
      case _ =>
    }
    // nothing lost
    val total = perFile.length
    assert(spark.read.parquet("/tmp/graft-sink-test/sorted_pq").count() == src.count())
    assert(total == files.length)
  }

  test("q78 rank-from-layout detects a bad (overlapping-range) layout") {
    // lay out two files BY HAND whose key ranges overlap — the q78
    // read-back must assign ranks that disagree with the true global
    // ROW_NUMBER, proving the oracle device actually police's the
    // layout rather than recomputing the sort
    import spark.implicits._
    val dir = "/tmp/graft-sink-test/bad_sorted"
    Scratch.delete(spark, dir)
    Seq((1L, 10.0), (3L, 30.0)).toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/a=0")
    Seq((2L, 20.0), (4L, 40.0)).toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/a=1")
    // flatten: move part files into one dir under lexicographic names
    val flat = new java.io.File(dir)
    val parts = Seq("a=0", "a=1").flatMap(s =>
      new java.io.File(s"$dir/$s").listFiles().filter(_.getName.endsWith(".parquet")))
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(flat, f"part-$i%05d.parquet").toPath) }
    Seq("a=0", "a=1").foreach(s => Scratch.delete(spark, s"$dir/$s"))
    val got = graft.operators.ReferenceQueries.sortedReadBack(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // true ranks by (price, key): 1->1, 2->2, 3->3, 4->4; the overlap
    // layout yields 1,3 in file0 and 2,4 in file1 → ranks 1,2 / 3,4
    assert(got(3L) == 2L && got(2L) == 3L,
      s"overlap not reflected in layout ranks: $got")
    assert(got != Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("compaction: file count hits ceil(bytes/target), plan has no exchange, rows survive") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_compact_spec").toString
    try {
      val src = Tables.load(spark, sf, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      src.repartition(32).write.mode("overwrite").parquet(s"$base/small")
      def parquetFiles(d: String) =
        new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
      val smallFiles = parquetFiles(s"$base/small")
      assert(smallFiles.length == 32)

      val target = 64L << 10
      val (planDf, n) = Sinks.compactionPlan(spark, s"$base/small", target)
      // the contract: n from live bytes, merge WITHOUT a shuffle
      assert(n == math.max(1,
        math.ceil(smallFiles.map(_.length).sum.toDouble / target).toInt))
      assert(!planDf.queryExecution.executedPlan.toString.contains("Exchange"),
        "compaction must coalesce, not shuffle")

      val written = Sinks.compactParquet(spark, s"$base/small", s"$base/out", target)
      val outFiles = parquetFiles(s"$base/out")
      assert(outFiles.length == written && written == n)
      assert(outFiles.length < smallFiles.length)
      // lossless rewrite
      val a = src.collect().map(_.getLong(0)).sorted.toSeq
      val b = spark.read.parquet(s"$base/out")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(a == b)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("approx_count_distinct (HLL sketch) lands within 5% of exact — the 100 TB cardinality path") {
    val li = Tables.load(spark, sf, "lineitem")
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_orderkey"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("withMetrics captures rows/bytes for a known write") {
    val n = 1000L
    val (_, m) = Sinks.withMetrics(spark) {
      spark.range(n).toDF("id")
        .write.mode("overwrite").parquet("/tmp/graft-sink-test/metrics_pq")
    }
    assert(m.rowsOut == n, s"rowsOut ${m.rowsOut}")
    assert(m.bytesWritten > 0)
    assert(m.executorRunSeconds > 0)
    assert(m.wallSeconds > 0)
  }

  test("withMetrics captures bytesRead for a scan") {
    val (cnt, m) = Sinks.withMetrics(spark) {
      Tables.load(spark, sf, "lineitem").count()
    }
    assert(cnt.asInstanceOf[Long] > 0)
    assert(m.bytesRead > 0)
  }

  test("withMetrics waits for a job the action leaves running and records its failed task") {
    import spark.implicits._
    // the task signals that it runs, sleeps, then fails
    val slowFailure = spark.range(1)
      .map { i => SinksSpec.lateTaskRunning.countDown(); Thread.sleep(500); i }
      .select(raise_error(concat(lit("late failure "), col("value").cast("string"))))
    val late = new Thread(() => try slowFailure.collect() catch { case _: Exception => () })
    val (_, m) = Sinks.withMetrics(spark) {
      late.start()
      assert(SinksSpec.lateTaskRunning.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    late.join()
    assert(m.failedTasks.exists(_.contains("late failure 0")), m.failedTasks)
  }

  test("withMetrics records every SQL execution in completion order") {
    val (_, m) = Sinks.withMetrics(spark) {
      spark.range(3).collect()
      spark.range(5).write.format("noop").mode("overwrite").save()
    }
    // Spark names a write's execution after its save mode
    assert(m.executions.map(_.action) == Seq("collect", "overwrite"), m.executions)
    assert(m.executions.forall(_.failure.isEmpty))
  }

  test("estimatedCostUsd reproduces the reference formula on hand-computed inputs") {
    // driver.py:259-269: lambdaCost = totalLambdaSecs * memory/1024 *
    // 0.00001667; s3 = GETs * 0.004/10000 + PUTs * 0.005/1000.
    // Mapped: 120 run-seconds at 1.5 GB, 256 MiB read (= 2 GET-shaped
    // requests at 128 MiB granularity), 128 MiB written (= 1 PUT).
    val m = Sinks.JobMetrics(
      rowsOut = 0, wallSeconds = 0, executorCpuSeconds = 0,
      executorRunSeconds = 120.0,
      bytesRead = 256L << 20, bytesWritten = 128L << 20,
      shuffleBytes = 0, peakMemory = 0,
      jobs = 0, shuffleRecords = 0, failedTasks = Nil, executions = Nil)
    val expected = 120.0 * 1.5 * 0.00001667 +
      2 * (0.004 / 10000) + 1 * (0.005 / 1000)
    assert(math.abs(m.estimatedCostUsd(1.5) - expected) < 1e-12)
    // zero work costs zero
    val z = Sinks.JobMetrics(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil, Nil)
    assert(z.estimatedCostUsd() == 0.0)
  }

  test("droppedLineCount is exact: raw lines, survivors, dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dropped").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/mix.csv"),
      ("1.2.3.4,http://a,2011-01-01,0.5,ua,US,en,w,3\n" +
        "5.6.7.8,http://b,2011-01-02,1.5,ua,US,en,w,4\n" +
        "garbage\n" +
        "9.9.9.9,http://c,2011-01-03,NOT_A_NUMBER,ua,US,en,w,5\n").getBytes("UTF-8"))
    val (raw, surviving, dropped) =
      Tables.droppedLineCount(spark, s"$dir/mix.csv", Tables.uservisitsSchema)
    assert(raw == 4)
    assert(surviving == 2)
    assert(dropped == 2)
  }
}

object SinksSpec {
  /** Counted down by the task of the late-failure test once it runs. */
  val lateTaskRunning = new java.util.concurrent.CountDownLatch(1)
}
