package graft

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PlainCsvFileFormat, Tables}

/** `Tables.csv` reads through [[PlainCsvFileFormat]], which splits plain
  * lines itself. Differential check against Spark's own CSV reader with
  * the same schema and DROPMALFORMED, on a file built to hit every
  * tokenizer edge, plain and gzip, under both column-pruning settings.
  */
class PlainCsvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val schema = Tables.uservisitsSchema
  private val pruningKey = "spark.sql.csv.parser.columnPruning.enabled"

  private val hostile = Seq(
    "1.2.3.4,http://a,2011-01-01,0.5,ua,US,en,word,3",
    "1.2.3.5,http://b,2011-01-02",                               // short
    "1.2.3.6,http://c,2011-01-03,1.5,ua,US,en,word,4,extra,more", // long
    "",
    "   \t  ",
    "1.2.3.7,\"http://d,x\",2011-01-04,2.5,ua,US,en,word,5",     // quoted comma
    "1.2.3.8,\"say \\\"hi\\\"\",2011-01-05,3.5,ua,US,en,word,6", // \" inside quotes
    "1.2.3.9,http://e\\f,2011-01-06,4.5,ua,US,en,word,7",        // bare backslash
    "1.2.3.10,http://é,2011-01-07,5.5,ua,ÜS,en,wörd,8",
    "1.2.3.11,http://g,2011-01-08,6.5,ua,US,en,word,9\r",        // CRLF
    "1.2.3.12,http://h,2011-01-09,NaN,ua,US,en,word,10",
    "1.2.3.13,http://i,2011-01-10, 4.5 ,ua,US,en,word,11",
    "1.2.3.14,,2011-01-11,,ua,,en,,",                            // empty fields
    "1.2.3.15,http://j,2011-13-45,7.5,ua,US,en,word,12",         // bad date
    "1.2.3.16,http://k,2011-01-12,8.5,ua,US,en,word,notint",     // bad int
    "1.2.3.17,http://l,2011-01-13,NOT_A_NUMBER,ua,US,en,word,13", // bad double
    "1.2.3.18,http://m,2011-01-14,9.5,ua,US,en,word, 14",        // spaced int
    "1.2.3.19,http://n\tx,2011-01-15,10.5,ua,US,en,word,15",
    " 1.2.3.20,http://o,2011-1-16,11.5,ua,US,en,word,16",
    ",,,,,,,,",
    "1.2.3.21,http://p\u0001,2011-01-17,12.5,ua,US,en,word,17",  // control byte
    "1.2.3.22,http://q\"x,2011-01-18,13.5,ua,US,en,word,18",     // bare quote
    "1.2.3.23,http://r,2011-01-19,14.5,ua,US,en,word,19,",       // trailing comma
    "1.2.3.24,http://s,2011-01-20,Infinity,ua,US,en,word,-20",
    "1.2.3.25,http://t,2011-01-21,1e3,ua,US,en,word,+21",
    "1.2.3.26,http://u,2011-01-22,007,ua,US,en,word,007",         // leading zeros
    "1.2.3.27,http://v,2011-01-23,-0,ua,US,en,word,-0",
    "1.2.3.28,http://w,2011-01-24,-0.0,ua,US,en,word,2147483648", // int overflow
    "1.2.3.29,http://x,2011-01-25,.5,ua,US,en,word,-2147483648",
    "1.2.3.30,http://y,2011-01-26,5.,ua,US,en,word,30",
    "1.2.3.31,http://z,2011-01-27,1234567890.123457,ua,US,en,word,31",  // 16 digits
    "1.2.3.32,http://aa,2011-01-28,9007199254.7409937,ua,US,en,word,32", // 17 digits
    "1.2.3.33,http://ab,2011-01-29,1.0E-5,ua,US,en,word,33",
    "1.2.3.34,http://ac,2019-02-29,1.5,ua,US,en,word,34",         // no such day
    "1.2.3.35,http://ad,2020-02-29,0.1,ua,US,en,word,35",
    "1.2.3.36,http://ae,0999-01-01,0.3,ua,US,en,word,36")

  private lazy val files: Seq[String] = {
    val dir = Files.createTempDirectory("graft-plain-csv")
    val body = hostile.mkString("\n").getBytes("UTF-8")
    Files.write(dir.resolve("plain.csv"), body)
    val gz = new GZIPOutputStream(Files.newOutputStream(dir.resolve("hostile.csv.gz")))
    gz.write(body); gz.close()
    Seq(dir.resolve("plain.csv").toString, dir.resolve("hostile.csv.gz").toString)
  }

  private def sparkCsv(path: String): DataFrame =
    spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(path)

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def withPruning[T](on: Boolean)(body: => T): T = {
    val before = spark.conf.get(pruningKey)
    spark.conf.set(pruningKey, on.toString)
    try body finally spark.conf.set(pruningKey, before)
  }

  private val names = schema.fieldNames.toSeq
  private val subsets: Seq[Seq[String]] = names.map(Seq(_)) ++ Seq(
    names,
    names.reverse,
    Seq("duration", "sourceIP"),
    Seq("adRevenue", "visitDate", "destURL"),
    Seq("searchWord", "countryCode", "adRevenue"))

  for (on <- Seq(true, false); i <- 0 to 1) {
    val kind = if (i == 0) "plain" else "gzip"
    test(s"rows equal Spark's CSV for every column subset ($kind, columnPruning=$on)") {
      withPruning(on) {
        val path = files(i)
        subsets.foreach { cols =>
          val sel = cols.map(col)
          assert(rows(Tables.csv(spark, path, schema).select(sel: _*)) ==
            rows(sparkCsv(path).select(sel: _*)), cols.mkString(","))
        }
        assert(Tables.csv(spark, path, schema).count() == sparkCsv(path).count())
        val pushed = col("duration") > 5
        assert(rows(Tables.csv(spark, path, schema).filter(pushed)) ==
          rows(sparkCsv(path).filter(pushed)))
      }
    }

    test(s"droppedLineCount and observedCsv agree with Spark's CSV ($kind, columnPruning=$on)") {
      withPruning(on) {
        val path = files(i)
        val head = col(schema.fieldNames.head)
        val raw = spark.read.textFile(path).count()
        val surviving = sparkCsv(path).filter(head.isNotNull).rdd.count()
        assert(Tables.droppedLineCount(spark, path, schema) ==
          ((raw, surviving, raw - surviving)))
        val (df, obs) = Tables.observedCsv(spark, path, schema)
        val n = df.collect().length
        assert(n == sparkCsv(path).filter(head.isNotNull).collect().length)
        assert(obs.get("rows_out") == n.toLong)
      }
    }
  }

  test("the hostile file keeps rows on both sides (the comparison is not vacuous)") {
    val all = Tables.csv(spark, files.head, schema).collect()
    assert(all.length >= 10 && all.length < hostile.count(_.trim.nonEmpty))
    assert(all.exists(r => r.get(3) != null && r.getDouble(3).isNaN))
  }

  test("typed tokens equal Spark's conversion bit for bit (ScalaCheck)") {
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val typed = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("t", DateType), StructField("s", StringType)))
    def digits(lo: Int, hi: Int) =
      Gen.choose(lo, hi).flatMap(n => Gen.listOfN(n, Gen.numChar)).map(_.mkString)
    val sign = Gen.oneOf("", "", "-")
    val int = Gen.frequency(3 -> Gen.zip(sign, digits(1, 10)).map { case (a, b) => a + b },
      1 -> Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString))
    val long = Gen.frequency(3 -> Gen.zip(sign, digits(1, 19)).map { case (a, b) => a + b },
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString))
    val double = Gen.frequency(
      4 -> Gen.zip(sign, digits(1, 12), Gen.option(digits(1, 24))).map {
        case (a, b, f) => a + b + f.fold("")("." + _) },
      1 -> Gen.chooseNum(-1e12, 1e12).map(_.toString)) // 16-17 digits, some exponents
    val date = Gen.zip(Gen.choose(900, 9999), Gen.choose(0, 13), Gen.choose(0, 32)).map {
      case (y, m, d) => f"$y%04d-$m%02d-$d%02d" }
    val line = Gen.zip(int, long, double, date, Gen.alphaStr).map {
      case (i, l, d, t, s) => Seq(i, l, d, t, s).mkString(",") }
    def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
      (0 until 5).map(k => if (r.isNullAt(k)) "null" else if (k == 2)
        java.lang.Double.doubleToRawLongBits(r.getDouble(k)).toString else r.get(k).toString)
        .mkString("|")
    }.sorted
    val dir = Files.createTempDirectory("graft-typed-csv")
    var round = 0
    val prop = Prop.forAll(Gen.listOfN(200, line)) { ls =>
      round += 1
      val path = dir.resolve(s"typed_$round.csv")
      Files.write(path, ls.mkString("\n").getBytes("UTF-8"))
      val got = bits(Tables.csv(spark, path.toString, typed))
      got.nonEmpty && got ==
        bits(spark.read.schema(typed).option("mode", "DROPMALFORMED").csv(path.toString))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("Tables.csv scans through PlainCsvFileFormat, one scan per read") {
    val plan = Tables.csv(spark, files, schema)
      .select(col("sourceIP"), col("adRevenue"))
      .queryExecution.executedPlan
    val formats = plan.collect { case s: FileSourceScanExec => s.relation.fileFormat }
    assert(formats.size == 1)
    assert(formats.head.isInstanceOf[PlainCsvFileFormat])
    assert(formats.head != new org.apache.spark.sql.execution.datasources.csv.CSVFileFormat)
    assert(rows(Tables.csv(spark, files, schema)) ==
      rows(spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(files: _*)))
  }
}
