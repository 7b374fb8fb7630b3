package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom text expressions for the dedup hot path.
  *
  * Building word n-gram shingles as STRINGS
  * (`transform(sequence(...), i -> array_join(slice(words, i, n)))`)
  * allocates one UTF8String per position through three interpreted
  * higher-order functions — the dominant cost of the shingle scan.
  * Downstream only ever consumes xxhash64(shingle), so this
  * expression emits the 64-bit hashes directly: one pass over the
  * text bytes, zero string allocation. Runs once per document row
  * (CodegenFallback boxing is irrelevant at that frequency; the loop
  * itself is JIT-compiled).
  */
object TextExpressions {

  /** FNV-1a 64-bit over a byte range — stable, seed-free. */
  @inline private def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    h
  }

  /** The input check of the string-taking expressions below: `child`
    * must be a string column, else `fn` fails analysis naming the type.
    */
  private def stringInput(child: Expression, fn: String): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn needs a string column, got $other")
    }

  /** Hashes of all word n-gram shingles of `child` (a whitespace-
    * normalized string). Shingle hash = order-dependent mix of the n
    * word hashes (polynomial in a large odd constant), so distinct
    * word sequences get independent 64-bit codes.
    */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    require(n >= 1, "shingle width must be >= 1")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      stringInput(child, "shingle_hashes")

    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      // word boundaries: single spaces (input is normalized)
      var wordCount = 0
      var i = 0
      val len = bytes.length
      // first pass: count words
      var inWord = false
      while (i < len) {
        if (bytes(i) != ' ') { if (!inWord) { wordCount += 1; inWord = true } }
        else inWord = false
        i += 1
      }
      if (wordCount < n) return new GenericArrayData(Array.empty[Long])
      // second pass: per-word hashes
      val wordHash = new Array[Long](wordCount)
      var w = 0
      i = 0
      while (i < len) {
        if (bytes(i) != ' ') {
          var j = i
          while (j < len && bytes(j) != ' ') j += 1
          wordHash(w) = fnv1a(bytes, i, j)
          w += 1
          i = j
        } else i += 1
      }
      // rolling window: polynomial combination of n word hashes
      val out = new Array[Long](wordCount - n + 1)
      var s = 0
      while (s <= wordCount - n) {
        var h = 0x9E3779B97F4A7C15L
        var k = 0
        while (k < n) {
          h = h * 0xBF58476D1CE4E5B9L ^ wordHash(s + k)
          k += 1
        }
        // final avalanche so nearby windows decorrelate
        h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
        h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
        out(s) = h ^ (h >>> 31)
        s += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): ShingleHashes =
      copy(child = c)
  }

  def shingle_hashes(text: Column, n: Int): Column =
    exprToColumn(ShingleHashes(columnToExpr(text), n))

  /** Content-defined chunks of `child` (the q239/q248 CDC device),
    * byte-identical to the SQL higher-order-function form it
    * replaces (kept verbatim in DedupSpec as the differential twin):
    *
    *   bnd  = [p in w..nchars | conv(substr(md5(substring(text,
    *            p-w+1, w)), 1, 4), 16, 10) % rate == 0]
    *   ends = array_distinct(bnd ++ [nchars])
    *   chunks(i) = substring(text, prev_end+1, ends(i) - prev_end)
    *
    * The HOF form is CodegenFallback and interprets the lambda PER
    * CHARACTER POSITION — each element allocates a window substring,
    * renders the full md5 as a 32-char hex string, substrings it and
    * parses it back through conv; three more interpreted array passes
    * (filter, array_distinct, the chunk-extraction transform) follow.
    * This expression does one compiled pass per ROW: char-start byte
    * offsets once, one incremental MessageDigest per window, boundary
    * test on the first two digest bytes, chunks sliced straight from
    * the original bytes. Positions are CODE POINTS (UTF8String char
    * semantics — identical to SQL substring/length) and md5 runs over
    * the window's UTF-8 bytes, so multi-byte text chunks identically.
    */
  case class CdcChunkStrings(child: Expression, w: Int, rate: Int)
      extends UnaryExpression with CodegenFallback {

    require(w >= 1 && rate >= 1, "window and boundary rate must be >= 1")

    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      stringInput(child, "cdc_chunk_strings")

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      val len = bytes.length
      // char-start byte offsets: charStart(i) = byte offset of char i
      // (0-based), charStart(nchars) = len, stepping by the length the
      // first byte declares — UTF8String.numChars()/substring()'s own
      // stepping, so malformed UTF-8 splits into the same chars as in
      // SQL; a sequence truncated by the end of the string stops at len
      val charStart = new Array[Int](len + 1)
      var nchars = 0
      var b = 0
      while (b < len) {
        charStart(nchars) = b
        nchars += 1
        b += UTF8String.numBytesForFirstByte(bytes(b))
      }
      charStart(nchars) = len
      // boundary positions (1-based char positions p in w..nchars):
      // first 16 bits of md5(window bytes) % rate == 0
      val md = java.security.MessageDigest.getInstance("MD5")
      val ends = new java.util.ArrayList[Int]()
      var p = w
      while (p <= nchars) {
        val from = charStart(p - w)
        val until = charStart(p)
        md.reset()
        md.update(bytes, from, until - from)
        val d = md.digest()
        if ((((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % rate == 0)
          ends.add(p)
        p += 1
      }
      // append nchars unless it is already the last boundary
      // (array_distinct on an ascending list + one append)
      if (ends.isEmpty || ends.get(ends.size - 1) != nchars)
        ends.add(nchars)
      val out = new Array[AnyRef](ends.size)
      var i = 0
      var prev = 0
      while (i < ends.size) {
        val e = ends.get(i)
        out(i) = UTF8String.fromBytes(
          bytes, charStart(prev), charStart(e) - charStart(prev))
        prev = e
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): CdcChunkStrings =
      copy(child = c)
  }

  def cdc_chunk_strings(text: Column, w: Int, rate: Int): Column =
    exprToColumn(CdcChunkStrings(columnToExpr(text), w, rate))
}
