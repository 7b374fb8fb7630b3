package graft.sources

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.util.{BadRecordException, DropMalformedMode, FailureSafeParser}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.graftshim.CsvTokens
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's CSV source with its own tokenizer for plain lines: the
  * reference mapper's `line.split(',')` (`src/python/mapper.py:50-54`)
  * in front of Spark's value conversion. Only `buildReader` changes, so
  * the plan keeps one `FileSourceScanExec` per read with Spark's file
  * splitting, codecs, pushed filters and scan metrics.
  *
  * A line that is ASCII, holds no `"` and no control byte but tab, and
  * is not blank is split on `,` in one pass over its bytes; the tokens go
  * to Spark's own `UnivocityParser` conversion ([[CsvTokens]]), chosen
  * exactly as Univocity would hand them over. Every other line goes
  * through Spark's Univocity path unchanged. Options this split does not
  * model (a header, comments, another delimiter or quote, multi-line
  * records, whitespace trimming, a mode other than DROPMALFORMED, a
  * corrupt-record column, ...) read through `CSVFileFormat` itself.
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
    if (!PlainCsvFileFormat.splitsPlainLines(csvOptions, dataSchema))
      return super.buildReader(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, options, hadoopConf)
    val conf = graftshim.broadcastConf(sparkSession.sparkContext, hadoopConf)
    // Univocity selects the required fields only under this condition
    // (UnivocityParser.tokenizer); otherwise it returns every field
    val selected =
      if (csvOptions.isColumnPruningEnabled(requiredSchema) &&
          requiredSchema.length < dataSchema.length)
        Some(requiredSchema.map(f => dataSchema.indexOf(f)).toArray)
      else None
    (file: PartitionedFile) => {
      val lines = graftshim.openLines(file, conf())
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      new PlainCsvFileFormat.LineRows(lines,
        () => new UnivocityParser(dataSchema, requiredSchema, csvOptions, filters),
        requiredSchema, selected, dataSchema.length, csvOptions)
    }
  }

  // a case-class parent would make this equal to Spark's own format,
  // and plan reuse could then swap one reader for the other
  override def canEqual(other: Any): Boolean = other.isInstanceOf[PlainCsvFileFormat]
  override def equals(other: Any): Boolean = other.isInstanceOf[PlainCsvFileFormat]
  override def hashCode(): Int = classOf[PlainCsvFileFormat].hashCode
}

object PlainCsvFileFormat {

  /** The options under which a plain line's tokens are its `,` fields. */
  private def splitsPlainLines(o: CSVOptions, dataSchema: StructType): Boolean =
    o.parseMode == DropMalformedMode && o.delimiter == "," && o.quote == '"' &&
      !o.headerFlag && !o.isCommentSet && !o.multiLine &&
      o.lineSeparatorInRead.isEmpty && o.singleVariantColumn.isEmpty &&
      Charset.forName(o.charset) == StandardCharsets.UTF_8 &&
      !o.ignoreLeadingWhiteSpaceInRead && !o.ignoreTrailingWhiteSpaceInRead &&
      o.maxCharsPerColumn < 0 &&
      !dataSchema.fieldNames.contains(o.columnNameOfCorruptRecord)

  /** One file's rows. A line yields no row when it is blank, dropped as
    * malformed or skipped by a pushed filter. The row object is reused
    * per line, as Spark's own parser reuses it.
    */
  private final class LineRows(
      lines: Iterator[Text],
      newParser: () => UnivocityParser,
      requiredSchema: StructType,
      selected: Option[Array[Int]],
      width: Int,
      o: CSVOptions) extends Iterator[InternalRow] {
    // this parser's tokenizer never runs, so `convert` finds no stale
    // input to copy for its error record
    private val fast = newParser()
    private lazy val slow = {
      val p = newParser()
      new FailureSafeParser[String](
        s => p.parse(s), o.parseMode, requiredSchema, o.columnNameOfCorruptRecord)
    }
    private var cuts = new Array[Int](width)
    private val tokens = new Array[String](selected.fold(width)(_.length))
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
      if (n >= o.maxColumns) return fallback(line) // Univocity's error
      val toks = selected match {
        case Some(idx) =>
          var j = 0
          while (j < idx.length) {
            tokens(j) = if (idx(j) <= n) field(bytes, len, n, idx(j)) else null
            j += 1
          }
          tokens
        case None =>
          val all = if (n + 1 == width) tokens else new Array[String](n + 1)
          var k = 0
          while (k <= n) { all(k) = field(bytes, len, n, k); k += 1 }
          all
      }
      try CsvTokens.convert(fast, toks).orNull
      catch { case _: BadRecordException => null }
    }

    /** Field `k` of a line with `n` commas; an empty field is Univocity's
      * null value.
      */
    private def field(bytes: Array[Byte], len: Int, n: Int, k: Int): String = {
      val from = if (k == 0) 0 else cuts(k - 1) + 1
      val until = if (k == n) len else cuts(k)
      if (from == until) o.nullValue
      else new String(bytes, from, until - from, StandardCharsets.ISO_8859_1)
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
}
