package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def writeTemp(name: String, lines: Seq[String], gzip: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft-src").toString
    val path = Paths.get(dir, name)
    if (gzip) {
      val out = new GZIPOutputStream(Files.newOutputStream(path))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    } else Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    path.toString
  }

  val goodLines = Seq(
    "1.2.3.4,http://a,2011-01-01,0.5,ua,US,en,word,3",
    "5.6.7.8,http://b,2011-01-02,1.5,ua,US,en,word,4")

  test("uservisits CSV reads with explicit schema") {
    val p = writeTemp("uv.csv", goodLines)
    val df = Tables.csv(spark, p, Tables.uservisitsSchema)
    assert(df.count() == 2)
    assert(df.schema == Tables.uservisitsSchema)
    val r = df.orderBy("sourceIP").head()
    assert(r.getString(0) == "1.2.3.4" && r.getDouble(3) == 0.5)
  }

  test("gzip input decompresses transparently (reference src/nodejs/mapper.js:71-79)") {
    val p = writeTemp("uv.csv.gz", goodLines, gzip = true)
    assert(Tables.csv(spark, p, Tables.uservisitsSchema).count() == 2)
  }

  test("malformed lines are dropped, not fatal (reference mapper.py:49-57)") {
    val p = writeTemp("bad.csv", goodLines ++ Seq(
      "not,enough,fields",
      "1.1.1.1,http://c,2011-01-03,NOT_A_NUMBER,ua,US,en,w,notint"))
    val df = Tables.csv(spark, p, Tables.uservisitsSchema)
    // NOTE: materialize ALL columns — Spark's CSV column pruning means a
    // bare count() parses nothing and malformation is never detected.
    assert(df.collect().length == 2)
  }

  test("observedCsv reports exact surviving rows via observe()") {
    val p = writeTemp("obs.csv", goodLines ++ Seq("garbage", "a,b,c"))
    val (df, obs) = Tables.observedCsv(spark, p, Tables.uservisitsSchema)
    val materialized = df.collect().length
    assert(materialized == 2)
    assert(obs.get("rows_out") == 2L)
  }

  /** Jobs the context starts while `body` runs. */
  private def jobsOf(body: => Unit): Int = graft.sinks.Sinks.withMetrics(spark)(body)._2.jobs

  test("job counts: Tables.load starts none, q01 runs 1 job and q04 runs 2") {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    assert(jobsOf(Tables.load(spark, SparkTestSession.sf, "orders")) == 0)
    assert(jobsOf(noop(SparkEntry.queries("q01_scan_1a")(spark, SparkTestSession.sf))) == 1)
    assert(jobsOf(noop(SparkEntry.queries("q04_agg_2a")(spark, SparkTestSession.sf))) == 2)
  }

  test("Tables.load and Tables.parquet read the schema Spark infers") {
    Tables.fixtureNames.foreach { n =>
      val p = s"${SparkTestSession.sf}/$n.parquet"
      val raw = spark.read.parquet(p)
      assert(Tables.parquet(spark, p).schema == raw.schema, n)
      val loaded = if (n == "events") raw.withColumn("ts", Tables.normalizeTs(raw)) else raw
      assert(Tables.load(spark, SparkTestSession.sf, n).schema == loaded.schema, n)
    }
    val dir = Files.createTempDirectory("graft-footer").toString
    val orders = Tables.load(spark, SparkTestSession.sf, "orders")
    graft.sinks.Sinks.writeParquet(orders, s"$dir/flat")
    graft.sinks.Sinks.writeParquet(orders, s"$dir/parted", Seq("o_orderstatus"))
    assert(Files.exists(Paths.get(s"$dir/flat/_SUCCESS")))
    Seq("flat", "parted").foreach { d =>
      val p = s"$dir/$d"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, d)
      assert(Tables.parquet(spark, p).count() == orders.count(), d)
    }
    intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, s"$dir/missing"))
  }

  test("all fixture tables load") {
    Tables.fixtureNames.foreach { n =>
      assert(Tables.load(spark, SparkTestSession.sf, n).count() > 0, n)
    }
  }

  // bit-exact against the parquet-side 2a job: lossless renders + decimal
  // sums; every injected bad record dropped, every gzip/snappy half decoded
  private def assertEquals2a(name: String,
      lifecycle: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    import graft.operators.ReferenceQueries
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaParquet = sums(ReferenceQueries.agg2a(spark, SparkTestSession.sf))
    assert(sums(lifecycle(spark, SparkTestSession.sf)) == viaParquet, name)
  }

  test("CSV lifecycle (q19) equals the parquet-side 2a aggregate exactly") {
    assertEquals2a("q19_csv_lifecycle", graft.operators.ReferenceQueries.csvLifecycle)
  }

  test("SequenceFile lifecycle (q82) equals the parquet-side 2a aggregate exactly") {
    assertEquals2a("q82_sequencefile", graft.operators.ReferenceQueries.sequenceFileLifecycle)
  }

  test("JSON, ORC and XML lifecycles (q59, q63, q106) equal the 2a aggregate exactly") {
    import graft.operators.ReferenceQueries
    assertEquals2a("q59_json_lifecycle", ReferenceQueries.jsonLifecycle)
    assertEquals2a("q63_orc_lifecycle", ReferenceQueries.orcLifecycle)
    assertEquals2a("q106_xml_lifecycle", ReferenceQueries.xmlLifecycle)
  }

  test("dynamic partition overwrite rewrites only the targeted day's files") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val base = java.nio.file.Files
      .createTempDirectory("graft_dynover_spec").toString + "/t"
    try {
      val ev = Tables.load(spark, SparkTestSession.sf, "events")
        .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
      ev.write.partitionBy("day").mode("overwrite").parquet(base)
      def listing(): Map[String, Set[String]] =
        new java.io.File(base).listFiles.filter(_.isDirectory).map { d =>
          d.getName -> d.listFiles.map(f => s"${f.getName}:${f.length}").toSet
        }.toMap
      val before = listing()
      assert(before.size > 1, "fixture must span multiple days")

      ev.filter(col("day") === lit("2024-01-05").cast("date"))
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(base)
      val after = listing()

      // untouched partitions keep their exact files; the target is new
      assert(after.keySet == before.keySet, "no partition may disappear")
      (before.keySet - "day=2024-01-05").foreach { d =>
        assert(after(d) == before(d), s"partition $d must be untouched")
      }
      assert(after("day=2024-01-05") != before("day=2024-01-05"),
        "target partition must be rewritten")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(base).getParentFile)
  }

  test("maxPartitionBytes budgets scan task count (O10 size-budgeted partitioning)") {
    // the Spark twin of the reference's memory-budget batch sizing:
    // shrinking the per-task byte budget must yield more scan
    // partitions over the same file
    val dir = java.nio.file.Files
      .createTempDirectory("graft_o10_spec").toString + "/events_one"
    try {
      Tables.load(spark, "/root/testdata/sf0.01", "events")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      def scanParts(): Int =
        spark.read.parquet(dir).rdd.getNumPartitions
      val coarse = scanParts()
      // restore the values the shared session actually had, not
      // hardcoded constants that could drift from GraftSession
      val savedMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      val savedOpen = spark.conf.get("spark.sql.files.openCostInBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      try {
        val fine = scanParts()
        assert(fine > coarse,
          s"16k budget should split the scan: coarse=$coarse fine=$fine")
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", savedMax)
        spark.conf.set("spark.sql.files.openCostInBytes", savedOpen)
      }
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
  }

  test("row-group stats pruning: sorted layout lets the scan skip groups a scattered layout cannot") {
    // The other half of "unpruned scan at 100 TB" beyond q64's
    // directory pruning: parquet row-group min/max stats. Same data,
    // same selective predicate, two layouts — sorted by the predicate
    // column (disjoint per-group ranges -> most groups skipped) vs
    // scattered (every group's min/max spans the range -> nothing
    // skippable). The scan's numOutputRows counts rows the reader
    // DELIVERED after row-group/page skipping, so the contrast is the
    // pruning evidence, independent of the Filter node above it.
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, SparkTestSession.sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val total = base.count()
    // top ~3% by price — selective at any fixture scale
    val cut = base.select(expr("percentile(o_totalprice, 0.97)")).head.getDouble(0)
    val expected = base.filter(col("o_totalprice") > cut).count()
    assert(expected > 0 && expected < total / 10,
      s"fixture drift: predicate keeps $expected of $total")

    def deliveredRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(col("o_totalprice") > cut)
      val matched = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      (matched, scan.metrics("numOutputRows").value)
    }

    val root = Files.createTempDirectory("graft-rowgroup").toString
    try {
      // many small row groups per file so there is something to skip
      val tinyGroups = Map(
        "parquet.block.size" -> "16384", "parquet.page.size" -> "4096")
      base.repartitionByRange(2, col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        .write.options(tinyGroups).parquet(s"$root/sorted")
      base.repartition(2) // hash scatter: every group spans the range
        .write.options(tinyGroups).parquet(s"$root/scattered")

      val (sortedMatch, sortedDelivered) = deliveredRows(s"$root/sorted")
      val (scatterMatch, scatterDelivered) = deliveredRows(s"$root/scattered")
      assert(sortedMatch == expected && scatterMatch == expected,
        "both layouts must return identical results")
      assert(scatterDelivered > total / 2,
        s"scattered layout should deliver most of $total rows, got $scatterDelivered")
      assert(sortedDelivered < scatterDelivered / 4,
        s"sorted layout should skip most row groups: delivered " +
          s"$sortedDelivered vs scattered $scatterDelivered")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("z-order layout prunes row groups on BOTH dimensions; single-column sort only on its own") {
    // The q110 claim, measured: a z-curve sort lets min/max stats
    // skip row groups for selective predicates on EITHER interleaved
    // dimension, where a y-only sort leaves x min/max spanning every
    // group. Dense 32x32 grid derived from event_id so the geometry
    // is exact at fixture scale; tiny row groups (~100 rows over a
    // ~102-cell z run ≈ one 8x16 curve quadrant) make per-group
    // dimension ranges narrow enough to measure.
    import org.apache.spark.sql.functions._
    val grid = Tables.load(spark, SparkTestSession.sf, "events")
      .select(col("event_id"),
        (col("event_id") % 32).as("x"),
        (col("event_id") / 32).cast("long").bitwiseAND(lit(31L)).as("y"))
      .withColumn("z", graft.operators.ReferenceQueries.zorderValue(col("x"), col("y")))
    val total = grid.count()

    def delivered(dir: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(pred)
      val matched = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      (matched, scan.metrics("numOutputRows").value)
    }

    val root = Files.createTempDirectory("graft-zorder").toString
    try {
      val tinyGroups = Map(
        "parquet.block.size" -> "2048", "parquet.page.size" -> "1024")
      grid.repartitionByRange(1, col("z")).sortWithinPartitions("z")
        .write.options(tinyGroups).parquet(s"$root/zsorted")
      grid.repartitionByRange(1, col("y")).sortWithinPartitions("y")
        .write.options(tinyGroups).parquet(s"$root/ysorted")

      val xPred = col("x") < 8
      val yPred = col("y") < 8
      val expectedX = grid.filter(xPred).count()
      val (zxMatch, zxDel) = delivered(s"$root/zsorted", xPred)
      val (yxMatch, yxDel) = delivered(s"$root/ysorted", xPred)
      val (_, zyDel) = delivered(s"$root/zsorted", yPred)
      val (_, yyDel) = delivered(s"$root/ysorted", yPred)
      assert(zxMatch == expectedX && yxMatch == expectedX)
      // y-sort cannot prune on x: every group spans the x range
      assert(yxDel > (total * 9) / 10, s"y-sort x-pred delivered $yxDel of $total")
      // z-sort prunes on x — the dimension no single sort column holds
      assert(zxDel < (total * 3) / 4, s"z-sort x-pred delivered $zxDel of $total")
      // and still prunes on y (y-sort is the unbeatable floor there)
      assert(zyDel < (total * 3) / 4, s"z-sort y-pred delivered $zyDel of $total")
      assert(yyDel <= zyDel)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("events.ts converts to a real timestamp under EVERY supported encoding") {
    // the round-9 lesson: the fixture's physical ts encoding drifted
    // (TIMESTAMP(NANOS) → TIMESTAMP(MICROS, ntz)) and a hard-coded
    // conversion lost 58/162 entries. Tables.load must adapt to the
    // OBSERVED type — assert on the live fixture, then on synthetic
    // long-nanos and native-timestamp generations of the same rows.
    import org.apache.spark.sql.functions.expr
    val df = Tables.load(spark, SparkTestSession.sf, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.selectExpr("min(year(ts))").head().getInt(0) == 2024)
    val expected = df.selectExpr("max(ts)").head().getTimestamp(0)

    val base = Files.createTempDirectory("graft_ts_gen").toString
    val live = spark.read.parquet(s"${SparkTestSession.sf}/events.parquet")
      .limit(1000)
    // generation A: raw long nanos (the legacy contract)
    val asLong =
      if (live.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        live
      else live.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    asLong.write.mode("overwrite").parquet(s"$base/genA/events.parquet")
    val fromLong = Tables.load(spark, s"$base/genA", "events")
    assert(fromLong.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // generation B: session-TZ timestamp
    val asTs = live.withColumn("ts", Tables.normalizeTs(live))
    asTs.write.mode("overwrite").parquet(s"$base/genB/events.parquet")
    val fromTs = Tables.load(spark, s"$base/genB", "events")
    assert(fromTs.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // identical values whichever generation was read
    assert(fromLong.selectExpr("max(ts)").head().getTimestamp(0) ==
      fromTs.selectExpr("max(ts)").head().getTimestamp(0))
  }

  test("fixture-contract canary: one clear message on an unknown ts encoding") {
    val canary = Tables.assertFixtureContract(spark, SparkTestSession.sf)
    assert(canary.keySet == Tables.fixtureNames.toSet)
    // an encoding the engine does not understand fails LOUDLY in one
    // place with a diagnosable message, not 60 scattered analysis errors
    val bad = spark.range(1).selectExpr("cast(id as string) as ts")
    val e = intercept[IllegalStateException] {
      Tables.normalizeTs(bad)
    }
    assert(e.getMessage.contains("fixture contract changed"))
  }
}
