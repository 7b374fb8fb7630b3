package graft.sources

import java.nio.charset.{Charset, StandardCharsets}
import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, NoopFilters, OrderedFilters, StructFilters}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DropMalformedMode, FailureSafeParser}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark's CSV source with its own tokenizer and value conversion for
  * plain lines: the reference mapper's `line.split(',')` and one parse
  * per field (`src/python/mapper.py:50-54`). Only `buildReader`
  * changes, so the plan keeps one `FileSourceScanExec` per read with
  * Spark's file splitting, codecs, pushed filters and scan metrics.
  *
  * A line that is ASCII, holds no `"` and no control byte but tab, and
  * is not blank is split on `,` in one pass over its bytes. Each required
  * token is then typed straight from those bytes when it has a strict
  * form ([[LineRows]]); pushed filters run through the same
  * `OrderedFilters.skipRow(row, i)` checks as Spark's own conversion.
  * Every other line (a quote, a non-ASCII byte, a token without its
  * strict form such as `NaN`, `+5`, `1e3` or `2011-1-16`, a wrong token
  * count) goes through Spark's Univocity parser unchanged.
  *
  * Options this reader does not model read through `CSVFileFormat`
  * itself: a header, comments, another delimiter or quote, multi-line
  * records, whitespace trimming, a mode other than DROPMALFORMED, a
  * corrupt-record column, a non-default `nullValue`, `nanValue`,
  * infinity, `dateFormat` or locale, the LEGACY time parser, and a
  * required column that is not nullable or not a string, int, long,
  * double or date.
  */
class PlainCsvFileFormat extends CSVFileFormat {

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val sqlConf = getSqlConf(sparkSession)
    val csvOptions = new CSVOptions(options, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    if (!PlainCsvFileFormat.typesPlainLines(csvOptions, sqlConf, dataSchema, requiredSchema))
      return super.buildReader(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, options, hadoopConf)
    val conf = graftshim.broadcastConf(sparkSession.sparkContext, hadoopConf)
    val kinds = requiredSchema.map(f => PlainCsvFileFormat.kindOf(f.dataType)).toArray
    val fields = requiredSchema.map(f => dataSchema.indexOf(f)).toArray
    // Univocity selects the required fields only under this condition
    // (UnivocityParser.tokenizer); otherwise it returns every field and
    // a line with another field count is malformed
    val selected = csvOptions.isColumnPruningEnabled(requiredSchema) &&
      requiredSchema.length < dataSchema.length
    val pushdown = sqlConf.csvFilterPushDown
    (file: PartitionedFile) => {
      val lines = graftshim.openLines(file, conf())
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      new PlainCsvFileFormat.LineRows(lines,
        () => new UnivocityParser(dataSchema, requiredSchema, csvOptions, filters),
        requiredSchema,
        if (pushdown) new OrderedFilters(filters, requiredSchema) else new NoopFilters,
        kinds, fields, selected, dataSchema.length, csvOptions)
    }
  }

  // a case-class parent would make this equal to Spark's own format,
  // and plan reuse could then swap one reader for the other
  override def canEqual(other: Any): Boolean = other.isInstanceOf[PlainCsvFileFormat]
  override def equals(other: Any): Boolean = other.isInstanceOf[PlainCsvFileFormat]
  override def hashCode(): Int = classOf[PlainCsvFileFormat].hashCode
}

object PlainCsvFileFormat {

  private final val StringKind = 0
  private final val IntKind = 1
  private final val LongKind = 2
  private final val DoubleKind = 3
  private final val DateKind = 4

  private def kindOf(t: DataType): Int = t match {
    case StringType => StringKind
    case IntegerType => IntKind
    case LongType => LongKind
    case DoubleType => DoubleKind
    case DateType => DateKind
    case _ => -1
  }

  /** The options under which a plain line's tokens are its `,` fields,
    * and the strict forms below convert them as Spark would.
    */
  private def typesPlainLines(
      o: CSVOptions, conf: SQLConf, dataSchema: StructType, requiredSchema: StructType): Boolean =
    o.parseMode == DropMalformedMode && o.delimiter == "," && o.quote == '"' &&
      !o.headerFlag && !o.isCommentSet && !o.multiLine &&
      o.lineSeparatorInRead.isEmpty && o.singleVariantColumn.isEmpty &&
      Charset.forName(o.charset) == StandardCharsets.UTF_8 &&
      !o.ignoreLeadingWhiteSpaceInRead && !o.ignoreTrailingWhiteSpaceInRead &&
      o.maxCharsPerColumn < 0 &&
      !dataSchema.fieldNames.contains(o.columnNameOfCorruptRecord) &&
      o.nullValue == "" && o.nanValue == "NaN" &&
      o.positiveInf == "Inf" && o.negativeInf == "-Inf" &&
      o.dateFormatOption.isEmpty && o.locale == Locale.US &&
      conf.legacyTimeParserPolicy == LegacyBehaviorPolicy.CORRECTED &&
      requiredSchema.forall(f => f.nullable && kindOf(f.dataType) >= 0)

  /** 10^k for k <= 22: every one is exact in a double. */
  private val exactPowersOf10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  /** One file's rows. A line yields no row when it is blank, dropped as
    * malformed or skipped by a pushed filter. The row object is reused
    * per line, as Spark's own parser reuses it.
    *
    * Strict forms, each converted to exactly the value Spark's
    * `UnivocityParser` gives the same token:
    *   - string: any token, a `UTF8String` over the line's bytes;
    *   - int and long: `-?[0-9]+`, without overflow;
    *   - double: `-?[0-9]+(\.[0-9]+)?`. With at most 15 significant
    *     digits and 22 decimals the value is `m / 10^k`: both operands
    *     are exact doubles, so the one rounded division is the correctly
    *     rounded value that `Double.parseDouble` returns (Clinger's fast
    *     path). A longer mantissa goes to `Double.parseDouble` itself;
    *   - date: `yyyy-MM-dd` with a year of at least 1000 and a day that
    *     exists, as its proleptic Gregorian epoch day;
    *   - an empty token is null.
    * A token without its strict form sends the whole line to Spark's
    * parser (`slow`), which decides whether it is malformed.
    */
  private final class LineRows(
      lines: Iterator[Text],
      newParser: () => UnivocityParser,
      requiredSchema: StructType,
      filters: StructFilters,
      kinds: Array[Int],
      fields: Array[Int],
      selected: Boolean,
      width: Int,
      o: CSVOptions) extends Iterator[InternalRow] {
    private lazy val slow = {
      val p = newParser()
      new FailureSafeParser[String](
        s => p.parse(s), o.parseMode, requiredSchema, o.columnNameOfCorruptRecord)
    }
    private var cuts = new Array[Int](width)
    private val typed = new GenericInternalRow(kinds.length)
    private var row: InternalRow = _

    def hasNext: Boolean = {
      while (row == null && lines.hasNext) row = rowOf(lines.next())
      row != null
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = row
      row = null
      r
    }

    /** The line's row, or null when it yields none. */
    private def rowOf(line: Text): InternalRow = {
      val bytes = line.getBytes
      val len = line.getLength
      var n = 0 // commas seen
      var visible = false
      var i = 0
      while (i < len) {
        val b = bytes(i)
        if (b > ' ') {
          visible = true
          if (b == ',') {
            if (n == cuts.length) cuts = java.util.Arrays.copyOf(cuts, 2 * n + 8)
            cuts(n) = i
            n += 1
          } else if (b == '"') return fallback(line)
        } else if (b != ' ' && b != '\t') return fallback(line) // control or non-ASCII
        i += 1
      }
      if (!visible) return null // Spark skips blank lines unparsed
      if (n >= o.maxColumns || (!selected && n + 1 != width)) return fallback(line)
      var j = 0
      while (j < kinds.length) {
        val k = fields(j)
        // a selected field past the line's end is null, as Univocity
        // fills it
        val from = if (k == 0 || k > n) 0 else cuts(k - 1) + 1
        val until = if (k > n) 0 else if (k == n) len else cuts(k)
        if (from == until) typed.setNullAt(j)
        else if (!put(j, bytes, from, until)) return fallback(line)
        if (filters.skipRow(typed, j)) return null
        j += 1
      }
      typed
    }

    /** Sets column `j` from its token; false when the token has no
      * strict form.
      */
    private def put(j: Int, bytes: Array[Byte], from: Int, until: Int): Boolean =
      kinds(j) match {
        case StringKind =>
          typed.update(j, UTF8String.fromBytes(bytes, from, until - from))
          true
        case IntKind =>
          val v = integer(bytes, from, until)
          if (v == NotInteger || v < Int.MinValue || v > Int.MaxValue) false
          else { typed.setInt(j, v.toInt); true }
        case LongKind =>
          val v = integer(bytes, from, until)
          if (v == NotInteger) false else { typed.setLong(j, v); true }
        case DoubleKind => double(j, bytes, from, until)
        case _ => date(j, bytes, from, until)
      }

    // no strict-form token of at most 18 digits reaches it
    private final val NotInteger = Long.MinValue

    /** `-?[0-9]{1,18}` as a long, else [[NotInteger]]; a longer token
      * goes through Spark's parser.
      */
    private def integer(bytes: Array[Byte], from: Int, until: Int): Long = {
      val neg = bytes(from) == '-'
      val start = if (neg) from + 1 else from
      if (start == until || until - start > 18) return NotInteger
      var v = 0L
      var i = start
      while (i < until) {
        val d = bytes(i) - '0'
        if (d < 0 || d > 9) return NotInteger
        v = v * 10 + d
        i += 1
      }
      if (neg) -v else v
    }

    private def double(j: Int, bytes: Array[Byte], from: Int, until: Int): Boolean = {
      val neg = bytes(from) == '-'
      var i = if (neg) from + 1 else from
      var m = 0L
      var digits = 0 // significant digits so far
      var point = -1 // index of '.'
      val intStart = i
      while (i < until) {
        val b = bytes(i)
        if (b == '.') {
          if (point >= 0 || i == intStart || i + 1 == until) return false
          point = i
        } else {
          val d = b - '0'
          if (d < 0 || d > 9) return false
          if (m != 0 || d != 0) digits += 1
          if (digits <= 15) m = m * 10 + d
        }
        i += 1
      }
      if (i == intStart) return false
      val scale = if (point < 0) 0 else until - point - 1
      typed.setDouble(j,
        if (digits > 15 || scale > 22) java.lang.Double.parseDouble(
          new String(bytes, from, until - from, StandardCharsets.ISO_8859_1))
        else if (neg) -(m / exactPowersOf10(scale))
        else m / exactPowersOf10(scale))
      true
    }

    private def date(j: Int, bytes: Array[Byte], from: Int, until: Int): Boolean = {
      if (until - from != 10 || bytes(from + 4) != '-' || bytes(from + 7) != '-') return false
      def num(at: Int, w: Int): Int = {
        var v = 0
        var i = at
        while (i < at + w) {
          val d = bytes(i) - '0'
          if (d < 0 || d > 9) return -1
          v = v * 10 + d
          i += 1
        }
        v
      }
      val y = num(from, 4)
      val m = num(from + 5, 2)
      val d = num(from + 8, 2)
      if (y < 1000 || m < 1 || m > 12 || d < 1 || d > daysInMonth(y, m)) return false
      typed.setInt(j, epochDay(y, m, d))
      true
    }

    private def fallback(line: Text): InternalRow = {
      val s = new String(line.getBytes, 0, line.getLength, o.charset)
      if (s.trim.isEmpty) null // Spark's blank-line filter
      else {
        val rows = slow.parse(s)
        if (rows.hasNext) rows.next() else null
      }
    }
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date with a
    * positive year (`LocalDate.toEpochDay`, in Hinnant's civil form).
    */
  private[sources] def epochDay(y0: Int, m: Int, d: Int): Int = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = y / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }
}
