package org.apache.spark.sql.graftshim;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.csv.UnivocityParser;
import scala.Option;

/**
 * Spark's own CSV token-to-row conversion for tokens split outside
 * Univocity (graft.sources.PlainCsvFileFormat). UnivocityParser.convert
 * is Scala-private, but its bytecode is public under the mangled name,
 * which Java can call: the same null, number, date and NaN handling, the
 * same pushed-filter checks and the same BadRecordException on a
 * malformed token or a wrong token count.
 */
public final class CsvTokens {
  private CsvTokens() {}

  public static Option<InternalRow> convert(UnivocityParser parser, String[] tokens) {
    return parser.org$apache$spark$sql$catalyst$csv$UnivocityParser$$convert(tokens);
  }
}
