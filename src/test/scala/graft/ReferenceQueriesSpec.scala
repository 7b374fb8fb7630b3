package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ReferenceQueries

class ReferenceQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def sf: String = SparkTestSession.sf
  import spark.implicits._

  test("substring semantics follow the Python mapper (1-based, first 8 chars)") {
    // SURVEY.md §2: Python `data[0][:8]` vs Node `substr(1,8)` disagree;
    // README sample output (8-char prefixes like 67.23.87) pins Python.
    val row = Seq("67.23.87.123").toDF("ip")
      .select(substring(col("ip"), 1, 8).as("p")).head()
    assert(row.getString(0) == "67.23.87")
    // short input yields the whole string, like Python slicing
    val short = Seq("1.2").toDF("ip")
      .select(substring(col("ip"), 1, 8).as("p")).head()
    assert(short.getString(0) == "1.2")
  }

  test("scan 1a filters and projects") {
    val df = ReferenceQueries.scan1a(spark, sf)
    assert(df.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    assert(df.filter(col("o_totalprice") <= 400000.0).count() == 0)
  }

  test("agg 2a equals per-key manual sums on a literal frame") {
    val data = Seq(
      ("click_a", 1.10), ("click_b", 2.20), ("view_x", 3.30),
      ("clic", 0.40), ("view", 0.60))
    data.toDF("event_type", "value").createOrReplaceTempView("tiny")
    val got = spark.table("tiny")
      .select(substring(col("event_type"), 1, 4).as("etype_prefix"), col("value"))
      .groupBy("etype_prefix")
      .agg(ReferenceQueries.moneySum(col("value")).as("sum_value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("clic" -> 3.70, "view" -> 3.90))
  }

  test("moneySum over long cents is bit-identical to the DECIMAL(28,2) sum (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.types.DecimalType
    def decimalSum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(18, 2))).cast("double")
    val two52 = (1L << 52).toDouble / 100
    val value: Gen[Option[Double]] = Gen.frequency(
      4 -> Gen.chooseNum(-99999999L, 99999999L).map(c => Some(c / 100.0)),
      2 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)), // off-cent: the cast rounds
      1 -> Gen.oneOf(0.145, 1.005, -2.675).map(Some(_)),
      1 -> Gen.oneOf(-1.0, 1.0).flatMap(s =>
        Gen.chooseNum(two52, 2 * two52).map(v => Some(s * v))), // ±2^52…2^53 cents
      1 -> Gen.const(None))
    val rows = Gen.listOf(Gen.zip(Gen.choose(0, 9), value))
    // fixed groups: all null; cent sums just under, at and past 2^52
    // and 2^53; a sum near 5e18 cents
    val edges = Seq[(Int, Option[Double])](
      (10, None), (10, None),
      (11, Some(two52)), (11, Some(-0.01)), (12, Some(two52)), (12, Some(two52)),
      (13, Some(-2 * two52)), (13, Some(-0.03)),
      (14, Some(9.9e15)), (14, Some(9.9e15)), (14, Some(9.9e15)), (14, Some(9.9e15)),
      (14, Some(9.9e15)), (15, Some(0.145)), (15, Some(1.005)), (15, Some(-2.675)),
      // the whole-cent shortcut's bound (2^40) from both sides, and values
      // it must leave to the cast: sub-cent, signed zero, NaN-free extremes
      (16, Some(1099511627775.99)), (16, Some(-1099511627776.0)),
      (16, Some(1099511627776.01)), (17, Some(Double.MinPositiveValue)),
      (17, Some(-0.0)), (17, Some(-0.005)), (17, Some(0.015)))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
        .toMap
    val prop = Prop.forAll(rows) { sample =>
      val df = (sample ++ edges).toDF("g", "x")
      val got = bits(df.groupBy("g").agg(ReferenceQueries.moneySum(col("x"))))
      got == bits(df.groupBy("g").agg(decimalSum(col("x")))) &&
        got(10).isEmpty && got(12).isDefined
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    // the global (no-key) aggregate of no rows is null on both sides
    val none = Seq.empty[Option[Double]].toDF("x")
    assert(none.agg(ReferenceQueries.moneySum(col("x"))).head().isNullAt(0))
  }

  test("aggregation is invariant under partitioning (the reference's core algebra)") {
    // The whole reference design rests on agg(data) == merge(parts.map(agg))
    // (SURVEY.md §5 property test). Re-partitioning must not change sums.
    val df = graft.sources.Tables.load(spark, sf, "lineitem")
    def run(parts: Int) =
      df.repartition(parts)
        .groupBy("l_returnflag")
        .agg(ReferenceQueries.moneySum(col("l_quantity")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r1 = run(1); val r7 = run(7); val r32 = run(32)
    assert(r1 == r7 && r7 == r32)
  }

  test("global sum produces exactly one row (the reference's single `result` object)") {
    val df = ReferenceQueries.globalSum(spark, sf)
    assert(df.count() == 1)
  }

  test("topk is ordered desc with deterministic ties") {
    val rows = ReferenceQueries.topK(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(1))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("filter/projection push down to the parquet scan") {
    val plan = ReferenceQueries.scan1a(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)]"),
      s"expected pushed filter in:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"expected pruned read schema in:\n$plan")
  }

  test("XML read drops malformed rows (bad casts and tag soup), keeps good ones") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_spec").toString
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/rows.xml"),
        ("<events>" +
          "<event><event_id>1</event_id><event_type>click</event_type>" +
          "<value>2.5</value></event>" +
          "<event><event_id>NOT_A_LONG</event_id><event_type>view</event_type>" +
          "<value>1.0</value></event>" +
          "<event><event_id>2</event_id><event_type>view</event_type>" +
          "<value>NOT_A_DOUBLE</value></event>" +
          "<event><event_id>3</event_id><event_type>view</event_type>" +
          "<value>4.25</value></event>" +
          // tag soup LAST: unlike a bad cast (dropped row-local), an
          // unparseable tag desyncs the rowTag tokenizer for the rest
          // of its chunk — records after it in the same file are lost
          // too. The q106 render therefore isolates injected garbage
          // in its own file, never ahead of good rows.
          "<event><broken tag soup</event>" +
          "</events>").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val got = spark.read.schema(schema)
        .option("rowTag", "event").option("mode", "DROPMALFORMED")
        .format("xml").load(dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got == Set((1L, "click", 2.5), (3L, "view", 4.25)))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("q64 read prunes on the partition column (directory skip, not row filter)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_prune_spec").toString + "/events_part"
    try {
      graft.sources.Tables.load(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val df = ReferenceQueries.prunedRead(spark, dir)
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "event_type"))),
        "expected a partition filter on event_type:\n" +
          df.queryExecution.executedPlan.toString)
      assert(df.collect().nonEmpty)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
  }

  test("parquet quarantine: broken files quarantined by name, healthy rows survive (q245)") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val row = graft.operators.ReferenceQueries
      .parquetQuarantine(spark, SparkTestSession.sf).head()
    assert(row.getLong(0) == 3L && row.getLong(1) == 1L &&
      row.getLong(2) == 2L)
    val want = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "documents")
      .where(col("doc_id") % 4 =!= 0)
      .agg(count(lit(1)), count_distinct(col("lang"))).head()
    assert(row.getLong(3) == want.getLong(0))
    assert(row.getLong(4) == want.getLong(1))
  }
}
