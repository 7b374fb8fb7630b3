package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.zip.{CRC32, GZIPOutputStream}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Seeded generator for the AMPLab `uservisits` and `rankings` tables in
  * the `Tables.uservisitsSchema` / `Tables.rankingsSchema` layouts.
  *
  * `uservisits` is split over [[UvParts]] CSV parts; every 4th part is
  * gzip-compressed. One line in every [[BadEvery]] lines carries a
  * non-numeric `adRevenue`, which the reference's mapper drops
  * (`mapper.py:48-57`) and `Tables.csv` drops as malformed.
  *
  * While writing, the generator computes the expected query results in
  * plain Scala, without Spark: aggregate 2a as exact cents per 8-char
  * `sourceIP` prefix, and scan 1a (`pageRank > ScanThreshold`, true for
  * every 10th row) as a row count, a `pageRank` sum and a CRC-32 sum of
  * the selected `pageURL`s.
  * Each part draws from its own generator seeded by (seed, part), so the
  * output depends only on (seed, rows) and never on thread timing.
  *
  * Usage: `perfbench.UvGen <seed> <uservisits rows> <output dir>`
  */
object UvGen {

  val UvParts = 16
  val RankParts = 4
  val BadEvery = 100000L
  val ScanThreshold = 900
  /** `rankings` has one row for every this many `uservisits` rows. */
  val RankingsRatio = 4

  /** SplitMix64: small, fast and fully specified, so a seed means the same
    * data on every JVM.
    */
  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  }

  def partSeed(seed: Long, table: Int, part: Int): Long =
    new Rng(seed * 1000003L + table * 1009L + part).next()

  case class Expected(
      uservisitsLines: Long,
      badLines: Long,
      uservisitsBytes: Long,
      centsByPrefix: Map[String, Long],
      rankingsRows: Long,
      rankingsBytes: Long,
      scanRows: Long,
      scanRankSum: Long,
      scanUrlCrcSum: Long) {
    def goodRows: Long = uservisitsLines - badLines

    def write(file: File): Unit = Json.writeValue(file, scala.collection.immutable.ListMap(
      "uservisits_lines" -> uservisitsLines, "bad_lines" -> badLines,
      "uservisits_bytes" -> uservisitsBytes,
      "rankings_rows" -> rankingsRows, "rankings_bytes" -> rankingsBytes,
      "scan_threshold" -> ScanThreshold, "scan_rows" -> scanRows,
      "scan_rank_sum" -> scanRankSum, "scan_url_crc_sum" -> scanUrlCrcSum,
      "agg2a_cents" -> scala.collection.immutable.TreeMap(centsByPrefix.toSeq: _*)))
  }

  object Expected {
    def read(file: File): Expected = {
      val n = Json.readTree(file)
      val cents = n.get("agg2a_cents").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
      Expected(
        n.get("uservisits_lines").asLong(), n.get("bad_lines").asLong(),
        n.get("uservisits_bytes").asLong(),
        cents,
        n.get("rankings_rows").asLong(), n.get("rankings_bytes").asLong(),
        n.get("scan_rows").asLong(), n.get("scan_rank_sum").asLong(),
        n.get("scan_url_crc_sum").asLong())
    }
  }

  /** Rows of part `p` when `rows` are spread over `parts` parts. */
  private def partRange(rows: Long, parts: Int, p: Int): (Long, Long) =
    (rows * p / parts, rows * (p + 1) / parts)

  private def writer(f: File): BufferedWriter = {
    val out = new FileOutputStream(f)
    val stream = if (f.getName.endsWith(".gz")) new GZIPOutputStream(out, 1 << 16) else out
    new BufferedWriter(new OutputStreamWriter(stream, UTF_8), 1 << 16)
  }

  private val agents = Array("Mozilla/5.0", "Opera/9.80", "curl/7.88", "Safari/605.1",
    "Googlebot/2.1", "Wget/1.21", "Edge/120.0", "Lynx/2.9")
  private val countries = Array("USA", "DEU", "FRA", "BRA", "IND", "JPN", "CHN", "GBR",
    "CAN", "MEX", "ESP", "ITA")
  private val languages = Array("en-US", "de-DE", "fr-FR", "pt-BR", "hi-IN", "ja-JP",
    "zh-CN", "en-GB", "es-MX", "it-IT")
  /** First octets in use; together with the second octet they set how many
    * 8-character prefixes the 2a aggregate groups by (a few thousand).
    */
  private val firstOctets = Array(10, 24, 66, 98, 131, 172, 192, 203)

  private def twoDigits(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0'); sb.append(v)
  }

  private def uvPart(seed: Long, rows: Long, p: Int, bad: Set[Long], f: File)
      : mutable.Map[String, Long] = {
    val rng = new Rng(partSeed(seed, 1, p))
    val cents = mutable.Map[String, Long]()
    val (lo, hi) = partRange(rows, UvParts, p)
    val w = writer(f)
    val sb = new java.lang.StringBuilder(160)
    var i = lo
    while (i < hi) {
      sb.setLength(0)
      sb.append(firstOctets(rng.below(firstOctets.length))).append('.')
        .append(rng.below(256)).append('.').append(rng.below(256)).append('.')
        .append(rng.below(256))
      val prefix = sb.substring(0, math.min(8, sb.length))
      sb.append(",http://site").append(rng.below(50000)).append(".example/p")
        .append(rng.below(1000))
      val day = rng.below(28) + 1
      val month = rng.below(12) + 1
      sb.append(',').append(2000 + rng.below(20)).append('-')
      twoDigits(sb, month); sb.append('-'); twoDigits(sb, day)
      val c = rng.below(100000).toLong
      sb.append(',')
      if (bad.contains(i)) sb.append("n/a")
      else {
        sb.append(c / 100).append('.'); twoDigits(sb, (c % 100).toInt)
        cents(prefix) = cents.getOrElse(prefix, 0L) + c
      }
      sb.append(',').append(agents(rng.below(agents.length)))
        .append(',').append(countries(rng.below(countries.length)))
        .append(',').append(languages(rng.below(languages.length)))
        .append(",word").append(rng.below(5000))
        .append(',').append(rng.below(100) + 1).append('\n')
      w.append(sb)
      i += 1
    }
    w.close()
    cents
  }

  /** (rows, rank sum, url CRC sum) of the part's rows with pageRank above
    * the scan threshold.
    */
  private def rankPart(seed: Long, rows: Long, p: Int, f: File): (Long, Long, Long) = {
    val rng = new Rng(partSeed(seed, 2, p))
    val (lo, hi) = partRange(rows, RankParts, p)
    val w = writer(f)
    val sb = new java.lang.StringBuilder(96)
    val crc = new CRC32
    var n, rankSum, crcSum = 0L
    var i = lo
    while (i < hi) {
      sb.setLength(0)
      sb.append("http://page").append(i).append(".example/")
        .append(java.lang.Long.toHexString(rng.next() >>> 20))
      val url = sb.toString
      // every 10th row passes the scan filter, so the scan's selectivity
      // and row count are the same for every seed
      val rank =
        if (i % 10 == 0) ScanThreshold + 1 + rng.below(1000 - ScanThreshold)
        else 1 + rng.below(ScanThreshold)
      sb.append(',').append(rank).append(',').append(rng.below(100) + 1).append('\n')
      w.append(sb)
      if (rank > ScanThreshold) {
        crc.reset(); crc.update(url.getBytes(UTF_8))
        n += 1; rankSum += rank; crcSum += crc.getValue
      }
      i += 1
    }
    w.close()
    (n, rankSum, crcSum)
  }

  /** Line numbers of the injected bad lines: one at a seeded position in
    * every block of [[BadEvery]] lines.
    */
  def badLines(seed: Long, rows: Long): Set[Long] = {
    val rng = new Rng(partSeed(seed, 0, 0))
    (0L until rows by BadEvery).map { lo =>
      lo + rng.below(math.min(BadEvery, rows - lo).toInt)
    }.toSet
  }

  private def dirBytes(d: File): Long = d.listFiles().map(_.length).sum

  /** Writes `uservisits/` and `rankings/` under `dir` and returns the
    * expected results. Parts are written in parallel on `threads` threads.
    */
  def generate(dir: File, seed: Long, rows: Long, threads: Int): Expected = {
    val uvDir = new File(dir, "uservisits"); uvDir.mkdirs()
    val rkDir = new File(dir, "rankings"); rkDir.mkdirs()
    val bad = badLines(seed, rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val uv = (0 until UvParts).map { p =>
        val name = f"part-$p%05d.csv" + (if (p % 4 == 3) ".gz" else "")
        Future(uvPart(seed, rows, p, bad, new File(uvDir, name)))
      }
      val rankRows = rows / RankingsRatio
      val rk = (0 until RankParts).map { p =>
        Future(rankPart(seed, rankRows, p, new File(rkDir, f"part-$p%05d.csv")))
      }
      val cents = mutable.Map[String, Long]()
      uv.foreach(f => Await.result(f, Duration.Inf).foreach { case (k, v) =>
        cents(k) = cents.getOrElse(k, 0L) + v
      })
      val scans = rk.map(Await.result(_, Duration.Inf))
      Expected(
        uservisitsLines = rows, badLines = bad.size.toLong,
        uservisitsBytes = dirBytes(uvDir),
        centsByPrefix = cents.toMap,
        rankingsRows = rankRows, rankingsBytes = dirBytes(rkDir),
        scanRows = scans.map(_._1).sum, scanRankSum = scans.map(_._2).sum,
        scanUrlCrcSum = scans.map(_._3).sum)
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val Array(seedArg, rowsArg, outArg) = args
    val out = new File(outArg)
    // write into a sibling directory and rename, so an interrupted run
    // never leaves a half-written data set under the final name
    val tmp = new File(out.getPath + ".tmp")
    if (tmp.exists()) org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    tmp.mkdirs()
    val threads = math.max(1, Runtime.getRuntime.availableProcessors())
    val exp = generate(tmp, seedArg.toLong, rowsArg.toLong, threads)
    exp.write(new File(tmp, "expected.json"))
    Files.move(tmp.toPath, out.toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}
