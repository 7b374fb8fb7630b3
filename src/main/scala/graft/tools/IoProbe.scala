package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-throughput micro-benchmark — the Spark twin of the
  * reference's raw-download probe
  * (`/root/reference/src/python/s3_download_benchmark.py:13-30`, which
  * GETs a key list and reports seconds + MB). Where the reference
  * measures per-Lambda S3 GET throughput, this measures per-core SCAN
  * throughput for each storage format the engine reads (parquet, CSV,
  * CSV-gzip), so a bench regression can be attributed to the I/O axis
  * vs the plan axis: if IoProbe's MB/s is flat round-over-round, a
  * slower query is a plan change; if MB/s moved, suspect storage/
  * machine first.
  *
  * Method: replicate the sf0.1 lineitem fixture K times (default 10,
  * ~110 MB parquet) into /tmp once per format, then time full scans
  * through the `noop` sink (forces every column off disk — a count()
  * would let the scan prune to metadata). Scans repeat `runs` times
  * and report the MEDIAN. Throughput = on-disk bytes / median
  * seconds; per-core divides by the session's core count, the number
  * comparable to the reference's per-Lambda MB/s (one Lambda ≈ one
  * core-ish of read parallelism).
  *
  * Usage: runMain graft.tools.IoProbe [K] [runs]
  */
object IoProbe {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val runs = if (args.length > 1) args(1).toInt else 5
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = "/tmp/graft-io-probe"
    val cores = graft.GraftSession.cores
    val spark = graft.GraftSession.local(cores, appName = "graft-io")
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$src/lineitem.parquet")
    val big = (1 to k).map(_ => base).reduce(_.unionAll(_))

    def dirBytes(path: String): Long = {
      val d = new java.io.File(path)
      Option(d.listFiles()).toSeq.flatten.filter(_.isFile)
        .map(_.length()).sum
    }

    def medianScanSec(read: () => DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        read().write.format("noop").mode(SaveMode.Overwrite).save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up (codegen + file-listing caches)
      Seq.fill(runs)(once()).sorted.apply(runs / 2)
    }

    // materialize each format once; every writer rewrites from the
    // parquet copy so formats carry identical rows
    big.write.mode(SaveMode.Overwrite).parquet(s"$dir/parquet")
    val pq = spark.read.parquet(s"$dir/parquet")
    pq.write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$dir/csv")
    pq.write.mode(SaveMode.Overwrite).option("header", "true")
      .option("compression", "gzip").csv(s"$dir/csvgz")
    val csvSchema = pq.schema

    val formats: Seq[(String, String, () => DataFrame)] = Seq(
      ("parquet", s"$dir/parquet",
        () => spark.read.parquet(s"$dir/parquet")),
      ("csv", s"$dir/csv",
        () => spark.read.schema(csvSchema).option("header", "true")
          .csv(s"$dir/csv")),
      ("csv_gzip", s"$dir/csvgz",
        () => spark.read.schema(csvSchema).option("header", "true")
          .csv(s"$dir/csvgz")))

    val rows = big.count()
    val results = formats.map { case (name, path, read) =>
      val bytes = dirBytes(path)
      val sec = medianScanSec(read)
      val mbs = bytes / 1024.0 / 1024.0 / sec
      (name, bytes, sec, mbs, mbs / cores)
    }
    val body = results.map { case (name, bytes, sec, mbs, perCore) =>
      f""""$name":{"bytes":$bytes,"sec":$sec%.3f,"mb_per_s":$mbs%.1f,"mb_per_s_per_core":$perCore%.2f}"""
    }.mkString(",")
    println(
      s"""{"metric":"io_probe","rows":$rows,"k":$k,"runs":$runs,"cores":$cores,$body}""")
    spark.stop()
  }
}
