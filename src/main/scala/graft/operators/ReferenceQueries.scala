package graft.operators

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** The reference's own query surface (SURVEY.md §2 O4-O8), re-shaped
  * onto the local fixtures (FIXTURES.md "Mapping reference workloads
  * onto fixtures").
  *
  * Key semantic pin: `SUBSTR(s, 1, n)` follows the Python mapper
  * (`/root/reference/src/python/mapper.py:51`, `data[0][:8]`), NOT the
  * Node mapper's off-by-one `substr(1, 8)`
  * (`src/nodejs/mapper.js:44`) — see SURVEY.md §2 "String functions".
  */
object ReferenceQueries {

  /** Deterministic double aggregation: money-shaped doubles in the
    * fixtures are 2-decimal values, so summing them as DECIMAL(18,2)
    * is exact and order-independent — which makes the Spark result
    * hash-identical to the DuckDB oracle regardless of partitioning
    * (the IEEE-754 accumulation-order hazard flagged in SURVEY.md §7.4).
    *
    * The sum runs over the unscaled cents as a long (Spark's
    * `DecimalAggregates` rewrite, taken up to precision 18): a
    * DECIMAL(28,2) buffer is a byte array, which turns off the fast
    * hash map in every aggregate that holds it. A double that is a
    * whole number of cents below 2^40 gives its cents without a
    * decimal string ([[graft.functions.MoneyCents]] has the exactness
    * argument); any other value takes `cast(x as decimal(18,2))`. The
    * result is the same double bit for bit: `DECIMAL(28,2)` and the
    * rebuilt decimal both convert through `BigDecimal.doubleValue` of
    * the same unscaled value. A sum past 2^63 cents (about 9.2e16)
    * overflows the long, which an ANSI session reports as an error.
    */
  def moneySum(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.MakeDecimal
    import org.apache.spark.sql.graftshim.{columnToExpr, exprToColumn}
    val cents = sum(exprToColumn(graft.functions.MoneyCents(columnToExpr(c))))
    exprToColumn(MakeDecimal(columnToExpr(cents), 28, 2)).cast("double")
  }

  /** Scan 1a shape: `SELECT pageURL, pageRank FROM rankings WHERE
    * pageRank > 1000` (`/root/reference/README.md:139`) on `orders`.
    * Filter + projection both reach the parquet scan (PushedFilters).
    */
  def scan1a(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Scan 1b shape: the LOW-selectivity variant of 1a (the reference's
    * 1b lowers the pageRank cutoff, `README.md:142`). Threshold 915 is
    * inside the fixture's price range at every SF (sf0.001 tops out at
    * 919.9), so the oracle compares real rows — the round-2 cutoff of
    * 1200 exceeded the data max and made the PASS vacuous.
    */
  def scan1b(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "part")
      .filter(col("p_retailprice") > 915.0)
      .select(col("p_partkey"), col("p_retailprice"))

  /** Projection + scalar expressions (O4): per-record
    * `(substr(key,1,8), cast(double))` — the mapper's record transform
    * (`src/python/mapper.py:50-54`).
    */
  def projectScalar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        col("c_acctbal").cast("double").as("acctbal"))

  /** Aggregate 2a — the flagship: `SELECT SUBSTR(sourceIP,1,8),
    * SUM(adRevenue) FROM uservisits GROUP BY 1` (`README.md:146`) on
    * `events`: substring group key over a string column + SUM of a
    * double. One shuffle; partial aggregation (the reference's
    * map-side combiner, `src/python/mapper.py:52-54`) is automatic in
    * `HashAggregateExec(partial)`.
    */
  def agg2a(spark: SparkSession, sfDir: String): DataFrame =
    agg2aOf(Tables.load(spark, sfDir, "events"))

  /** The 2a aggregate over any frame with `event_type` and `value`
    * columns: the one body behind q04 and every source lifecycle that
    * reads `events` back through another format (q19/q59/q63/q82/q106).
    */
  def agg2aOf(df: DataFrame): DataFrame =
    df.select(substring(col("event_type"), 1, 4).as("etype_prefix"), col("value"))
      .groupBy(col("etype_prefix"))
      .agg(moneySum(col("value")).as("sum_value"))

  /** Multi-aggregate group-by: the general O6+O7 surface beyond the
    * single SUM the reference hard-codes.
    */
  def aggMulti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n_rows"))

  /** Reduction tree to ONE global row (O8): the reference's entire
    * coordinator state machine (`src/python/reducerCoordinator.py:
    * 107-189`) exists to merge partials down to a single `result`
    * object. In Spark that is a global aggregate: partial per
    * partition, single final merge — one round, no S3 round-trips.
    * (The literal reduction tree over the same sum is q403,
    * `MapReduceSurface.treeReduceSum`.)
    */
  def globalSum(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .agg(
        moneySum(col("l_extendedprice")).as("total_price"),
        count(lit(1)).as("n_rows"))

  /** DISTINCT (beyond the reference — SURVEY.md §2 ABSENT list).
    * Map-side partial distinct before the shuffle keeps this
    * scale-safe on low-cardinality keys.
    */
  def distinctKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()

  /** Top-k: global top 10 orders by price. Spark's `TakeOrderedAndProject`
    * keeps k rows per partition then merges — no global sort, the
    * scale-safe pattern (vs the reference's no-sort-at-all).
    * Deterministic tie-break on the unique key.
    */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** CSV line schema for the rendered `events` table ([[csvLifecycle]]):
    * `ts` travels as epoch micros (long) — CSV has no timestamp type,
    * and integer micros round-trip exactly.
    */
  val eventsCsvSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts_us", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  /** The JSON (q59) and XML (q106) record schema: the fields 2a reads. */
  private val eventsTextSchema: StructType = new StructType()
    .add("event_id", LongType).add("event_type", StringType).add("value", DoubleType)

  /** A reader keeps a parseable record with a missing or short field as
    * nulls; the reference's positional access (`data[3]`) raises on it
    * and drops it — so every lifecycle requires each consumed field.
    */
  private val consumedFieldsPresent: Column =
    col("event_id").isNotNull && col("event_type").isNotNull && col("value").isNotNull

  /** The render-and-read skeleton of q19 (CSV), q59 (JSON) and q106
    * (XML): `cols` of `events` are written with `write`, the even half
    * plain and the odd half gzip; the injected malformed records
    * (`badText`) land beside the plain parts; both directories are
    * read back with `read` (explicit schema, DROPMALFORMED: the reader
    * must swallow bad records like the reference swallows bad splits).
    */
  private def textLifecycle(
      spark: SparkSession, sfDir: String, tag: String, cols: Seq[Column],
      write: (DataFrameWriter[Row], String) => Unit,
      badFile: String, badText: String,
      read: Seq[String] => DataFrame): DataFrame =
      Scratch.withScratch(spark, tag, sfDir) { dir =>
    val ev = Tables.load(spark, sfDir, "events").select(cols: _*)
    write(ev.filter(col("event_id") % 2 === 0).write.mode("overwrite"),
      s"$dir/plain")
    write(ev.filter(col("event_id") % 2 === 1).write.mode("overwrite")
      .option("compression", "gzip"), s"$dir/gz")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/plain/$badFile"), badText.getBytes("UTF-8"))
    agg2aOf(read(Seq(s"$dir/plain", s"$dir/gz")).filter(consumedFieldsPresent))
  }

  /** The reference's FULL source lifecycle under the hard oracle:
    * O1 (prefix enumeration: two directories of part files) → O2 (CSV
    * line records) → O3 (gzip decompression: the odd half is written
    * `.csv.gz`) → bad-record drop (injected malformed lines, the
    * mapper's try/except at `src/python/mapper.py:49-57`) → O4–O7 (the
    * 2a substring group-sum). The CSV render is lossless (doubles use
    * shortest-round-trip text; quotes self-consistently escaped), so
    * the DuckDB oracle is the same aggregate over the parquet `events`
    * table — any CSV-path infidelity breaks the hash match.
    */
  def csvLifecycle(spark: SparkSession, sfDir: String): DataFrame =
    textLifecycle(spark, sfDir, "q19_csv",
      Seq(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"), col("props")),
      _.csv(_),
      // wrong arity, bad casts, raw garbage; under CSV column pruning
      // the short row "1,2" is padded with nulls, not dropped
      "zz_badlines.csv",
      "garbage line with no commas\n" +
        "1,2\n" +
        "9,9,9,click,NOT_A_DOUBLE,p\n" +
        "NOT_A_LONG,0,0,view,1.0,p\n",
      Tables.csv(spark, _, eventsCsvSchema))

  /** The q245 driver entry: CORRUPT-PARQUET QUARANTINE LIFECYCLE —
    * the columnar-lake sibling of q19/q59's bad-RECORD tolerance: at
    * 100 TB some part FILES arrive truncated (killed writer, torn
    * upload) or zero-byte (failed multipart commit), and a resilient
    * reader must ingest the healthy files while QUARANTINING the
    * broken ones by name — not fail the job, not silently skip. The
    * lake here holds one healthy part (doc_id % 4 != 0, so the
    * surviving row set is exactly SQL-derivable), one truncated part
    * (a real parquet's first 16 bytes — magic intact, footer gone)
    * and one zero-byte part; the read runs under ignoreCorruptFiles
    * and the quarantine set is (all part files) minus (files that
    * produced rows, via input_file_name) — the manifest an operator
    * pages on. Output: file counts plus the surviving row/language
    * counts.
    */
  def parquetQuarantine(spark: SparkSession, sfDir: String): DataFrame =
      Scratch.withScratch(spark, "q245_quarantine", sfDir) { dir =>
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    docs.where(col("doc_id") % 4 =!= 0).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/good")
    docs.where(col("doc_id") % 4 === 0).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/bad")
    val lake = new java.io.File(s"$dir/lake")
    lake.mkdirs()
    def firstPart(sub: String): java.nio.file.Path =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.copy(firstPart("good"),
      java.nio.file.Paths.get(s"$dir/lake/part_healthy.parquet"))
    // truncated: magic bytes survive, footer does not
    val broken = java.nio.file.Files.readAllBytes(firstPart("bad"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/lake/part_truncated.parquet"),
      broken.take(16))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/lake/part_empty.parquet"),
      Array.empty[Byte])
    val read = spark.read
      .option("ignoreCorruptFiles", "true")
      .schema(docs.schema)
      .parquet(s"$dir/lake")
    val surviving = read
      .select(col("doc_id"), col("lang"),
        input_file_name().as("f"))
      .localCheckpoint(true)
    val nFiles = lake.listFiles()
      .count(_.getName.endsWith(".parquet")).toLong
    val readFiles = surviving.select(col("f")).distinct().count()
    surviving.agg(
      lit(nFiles).as("n_files"),
      lit(readFiles).as("n_read_files"),
      lit(nFiles - readFiles).as("n_quarantined_files"),
      count(lit(1)).as("n_rows_read"),
      count_distinct(col("lang")).as("n_langs"))
  }

  /** JSON-lines source lifecycle (q59) — the third text encoding next
    * to q19's CSV/CSV.gz, read back with an EXPLICIT schema (at 100 TB
    * schema inference is a second full scan). The render is lossless
    * (longs; doubles use shortest-round-trip text), so the parquet-side
    * aggregate is the exact oracle for the whole JSON path.
    */
  def jsonLifecycle(spark: SparkSession, sfDir: String): DataFrame =
    textLifecycle(spark, sfDir, "q59_json",
      Seq(col("event_id"), col("event_type"), col("value")),
      _.json(_),
      "zz_badlines.json", // broken JSON, wrong types
      "{not json at all\n" +
        """{"event_id": "NOT_A_LONG", "event_type": "view", "value": 1.0}""" + "\n" +
        """{"event_id": 7, "event_type": "view", "value": "NOT_A_DOUBLE"}""" + "\n",
      ps => spark.read.schema(eventsTextSchema).option("mode", "DROPMALFORMED")
        .json(ps: _*))

  /** ORC source/sink lifecycle (q63) — the second COLUMNAR format next
    * to parquet: events written as ORC (schema travels in file
    * metadata — no explicit schema or inference needed on read-back),
    * read and aggregated to the q04 contract. long/string/double
    * round-trip losslessly, so the parquet-side aggregate is the exact
    * oracle.
    */
  def orcLifecycle(spark: SparkSession, sfDir: String): DataFrame =
      Scratch.withScratch(spark, "q63_orc", sfDir) { dir =>
    Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(dir)
    agg2aOf(spark.read.orc(dir))
  }

  /** XML source/sink lifecycle (q106) — the fifth text encoding next
    * to CSV (q19), JSON (q59), and SequenceFile text records (q82):
    * Spark 4 ships the former spark-xml as a native datasource, so
    * XML feeds (the format enterprise event/feed dumps still arrive
    * in) round-trip without an external package. Events render as
    * `<event>` rows, read back with the same rowTag; the injected rows
    * carry broken tag soup and wrong types. Unlike a bad cast (dropped
    * row-local), unparseable tag soup desyncs the rowTag tokenizer for
    * the rest of its chunk (ReferenceQueriesSpec pins this), so the
    * render isolates injected garbage in its own file.
    * long/double text round-trips losslessly, so the parquet events
    * table is the exact oracle.
    *
    * Scale note: unlike CSV/JSON lines, XML records span lines by
    * nature; the datasource splits on the rowTag scan, not newlines —
    * plain files stay splittable, the `.gz` half (like `.csv.gz`) is
    * one stream per file, which is WHY the render keeps many part
    * files per directory.
    */
  def xmlLifecycle(spark: SparkSession, sfDir: String): DataFrame =
    textLifecycle(spark, sfDir, "q106_xml",
      Seq(col("event_id"), col("event_type"), col("value")),
      (w, path) => w.option("rowTag", "event").format("xml").save(path),
      "zz_badrows.xml",
      "<events>" +
        "<event><event_id>NOT_A_LONG</event_id>" +
        "<event_type>view</event_type><value>1.0</value></event>" +
        "<event><event_id>7</event_id><event_type>view</event_type>" +
        "<value>NOT_A_DOUBLE</value></event>" +
        "<event><broken tag soup</event>" +
        "</events>",
      ps => spark.read.schema(eventsTextSchema)
        .option("rowTag", "event").option("mode", "DROPMALFORMED")
        .format("xml").load(ps: _*))

  /** SequenceFile source/sink lifecycle (q82) — the fourth input
    * encoding. The reference ADVERTISES the AMPLab benchmark's
    * `[text|text-deflate|sequence|sequence-snappy]` layouts
    * (`/root/reference/README.md:131`) but implements only the text
    * pair — both mappers split lines and nothing else; this engine
    * completes the advertised surface. Events render as Hadoop
    * SequenceFiles of (Text key = event_id, Text value = CSV rest) —
    * the AMPLab sequence layout — even half uncompressed, odd half
    * Snappy BLOCK-compressed, plus an injected file of malformed
    * records. Read back via `sc.sequenceFile` (splittable: at 100 TB
    * block-compressed SequenceFiles split at sync markers, unlike
    * `.csv.gz` whole-file streams — that is WHY the layout exists),
    * parsed under the same null-gated cast policy as q19, then the 2a
    * aggregate. Long/double text round-trips losslessly, so the
    * parquet events table is the exact oracle for the binary path.
    */
  def sequenceFileLifecycle(spark: SparkSession, sfDir: String): DataFrame =
      Scratch.withScratch(spark, "q82_seq", sfDir) { dir =>
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)]
    def kv(half: org.apache.spark.rdd.RDD[(Long, String, Double)]) =
      half.map { case (id, et, v) => (id.toString, s"$et,$v") }
    kv(ev.filter(col("event_id") % 2 === 0).rdd)
      .saveAsSequenceFile(s"$dir/plain")
    kv(ev.filter(col("event_id") % 2 === 1).rdd)
      .saveAsSequenceFile(s"$dir/snappy",
        Some(classOf[org.apache.hadoop.io.compress.SnappyCodec]))
    // malformed records: wrong arity, bad casts — the mapper's
    // try/except policy (`src/python/mapper.py:49-57`) again
    spark.sparkContext.parallelize(Seq(
      ("garbage", "no-comma-no-value"),
      ("9", "click,NOT_A_DOUBLE"),
      ("NOT_A_LONG", "view,1.0")), 1)
      .saveAsSequenceFile(s"$dir/bad")
    val records = (spark.sparkContext.sequenceFile[String, String](s"$dir/plain") union
      spark.sparkContext.sequenceFile[String, String](s"$dir/snappy") union
      spark.sparkContext.sequenceFile[String, String](s"$dir/bad"))
      .toDF("k", "v")
      // try_cast, not cast: under ANSI (the Spark 4 default) a plain
      // cast THROWS on a malformed record — the policy here is q19's
      // drop-and-continue, not fail-the-job
      .select(
        expr("try_cast(k AS BIGINT)").as("event_id"),
        split(col("v"), ",").as("parts"))
      .select(
        col("event_id"),
        col("parts").getItem(0).as("event_type"),
        expr("try_cast(parts[1] AS DOUBLE)").as("value"),
        size(col("parts")).as("arity"))
      .filter(col("arity") === 2 && consumedFieldsPresent)
    agg2aOf(records)
  }

  /** Small-file compaction lifecycle (q85): events deliberately
    * shattered into 64 tiny parquet files (the layout a streaming
    * ingest or over-parallel writer leaves behind), compacted by
    * [[graft.sinks.Sinks.compactParquet]] into size-targeted files
    * via a shuffle-free coalesce (SinksSpec asserts file count and
    * the exchange-free plan), then read back and aggregated. Rows
    * must survive the rewrite bit-exactly — the parquet events table
    * is the oracle for the whole compaction cycle.
    */
  def compactionLifecycle(spark: SparkSession, sfDir: String): DataFrame =
      Scratch.withScratch(spark, "q85_compact", sfDir) { dir =>
    Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/small")
    graft.sinks.Sinks.compactParquet(
      spark, s"$dir/small", s"$dir/compact", targetBytes = 256L << 10)
    Tables.parquet(spark, s"$dir/compact")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), moneySum(col("value")).as("sum_value"))
  }

  /** Dynamic partition-overwrite lifecycle (q93): the idempotent
    * daily-rewrite primitive of every partitioned 100 TB pipeline —
    * land corrected data for ONE day by overwriting exactly that
    * day's partition directory, leaving every other day's files
    * untouched. `partitionOverwriteMode=dynamic` replaces only the
    * partitions present in the incoming frame; the default STATIC
    * overwrite would truncate the whole table first (here that would
    * leave one day of data — the oracle would fail loudly, so the
    * mode's semantics are what this entry pins). Read back and
    * aggregated per day; the oracle replays the day-5 correction
    * (value doubled — ×2 is exact IEEE) over the parquet table.
    */
  def partitionOverwriteLifecycle(spark: SparkSession, sfDir: String): DataFrame =
      Scratch.withScratch(spark, "q93_dynover", sfDir) { dir =>
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    ev.filter(col("day") === lit("2024-01-05").cast("date"))
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(dir)
    // explicit schema: a zero-row source writes no part files, and a
    // layout read-back must not depend on inference finding any
    spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE, day DATE")
      .parquet(dir)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
  }

  /** Partition-pruned read lifecycle (q64): events written
    * `partitionBy(event_type)` (the standard 100 TB table layout —
    * one directory per key), read back filtered to ONE type. The
    * filter must become a PartitionFilter — the scan lists only that
    * partition's directory and reads ~1/5 of the files
    * (ReferenceQueriesSpec asserts the plan) — prune-before-read, not
    * filter-after-read. The oracle aggregates the same slice from
    * parquet.
    */
  /** Parquet schema-evolution lifecycle (q72): half the events are
    * written with the v1 schema (3 columns), half with v2 (adds
    * user_id), and one `mergeSchema` read unions them — v1 rows
    * surface NULL user_id. At 100 TB schemas ALWAYS drift across
    * partition generations; this proves the merged read agrees with
    * the source of truth (n_with_user counts exactly the v2 rows).
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q72_evo", sfDir) { dir =>
      val ev = Tables.load(spark, sfDir, "events")
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
        .write.mode("overwrite").parquet(s"$dir/v2")
      spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("user_id")).as("n_with_user"),
          moneySum(col("value")).as("sum_value"))
    }

  /** Global-sort + sorted-write lifecycle (q78): the full ORDER BY a
    * 100 TB layout-prep step needs, WITHOUT a single-reducer sort —
    * `repartitionByRange` samples the keys and assigns disjoint
    * (price, orderkey) ranges to partitions, `sortWithinPartitions`
    * orders each file, and readers get global order by concatenating
    * files in partition-index order.
    *
    * The oracle check makes the layout itself the contract: the
    * read-back computes each row's GLOBAL rank from the file layout
    * alone — (# rows in earlier files, by filename = partition index)
    * + the row's physical index within its file (`_metadata.row_index`)
    * — and the oracle recomputes ranks as ROW_NUMBER over the total
    * order. Any overlap between file ranges or any out-of-order row
    * inside a file shifts some rank and fails the hash compare, which
    * is the old SinksSpec disjoint-ranges assertion promoted into the
    * driver gate.
    */
  def sortedWriteLifecycle(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q78_sort", sfDir) { dir =>
      graft.sinks.Sinks.writeSortedParquetBy(
        Tables.load(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_totalprice")),
        dir, Seq("o_totalprice", "o_orderkey"), partitions = 8)
      sortedReadBack(spark, dir)
    }

  /** The read half of [[sortedWriteLifecycle]] — split out so the spec
    * can exercise it against hand-laid-out files.
    */
  def sortedReadBack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = spark.read.schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType))))
      .parquet(dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("ri"))
    // rows-per-file is tiny (one row per FILE); the window runs over
    // that, never over the data
    val earlier = rows.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .withColumn("earlier",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("fp"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("fp"), col("earlier"))
    rows.join(broadcast(earlier), "fp")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("earlier") + col("ri") + 1).as("global_rank"))
  }

  private val zorderBits = 16

  /** Bit-interleaved z-value over two non-negative integer
    * dimensions, `zorderBits` bits each — the space-filling-curve key
    * behind multi-dimensional clustering (Delta/Iceberg OPTIMIZE
    * ZORDER). Pure codegen'd integer arithmetic (shift/and/add), no
    * UDF.
    */
  def zorderValue(xC: Column, yC: Column): Column = {
    val mask = lit((1L << zorderBits) - 1)
    val x = xC.bitwiseAND(mask)
    val y = yC.bitwiseAND(mask)
    (0 until zorderBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order layout lifecycle (q110): q78's sorted write, but sorted
    * by a SPACE-FILLING CURVE over (user_id, day) instead of one
    * column — the layout that lets row-group min/max stats prune
    * selective predicates on EITHER dimension, where a single-column
    * sort prunes only its own column (SourcesSpec proves the contrast
    * with scan-delivered row counts). At 100 TB this is the periodic
    * layout-maintenance job for a table queried by both user and
    * time. The driver entry pins the interleave arithmetic exactly:
    * the oracle recomputes every z-value bit-for-bit in SQL, and the
    * read-back goes through the rendered parquet so the value
    * survives the write. Day bins stay under 2^16 until year 2149 —
    * no wrap at any fixture or production scale.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q110_zorder", sfDir) { dir =>
      val ev = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day_bin"))
        .withColumn("z_value", zorderValue(col("user_id"), col("day_bin")))
      graft.sinks.Sinks.writeSortedParquetBy(
        ev, dir, Seq("z_value", "event_id"), partitions = 8)
      Tables.parquet(spark, dir)
        .select(col("event_id"), col("user_id"), col("day_bin"),
          col("z_value"))
    }

  def partitionPrunedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q64_part", sfDir) { dir =>
      Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      prunedRead(spark, dir)
    }

  /** The read half of [[partitionPrunedAgg]] — split out so the spec
    * can plan-assert the partition filter on exactly the production
    * subtree. Explicit schema: no inference pass over the listing
    * (and an EMPTY layout — zero part files — still reads as an
    * empty frame instead of failing inference).
    */
  def prunedRead(spark: SparkSession, dir: String): DataFrame = {
    spark.read.schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("value", DoubleType),
        StructField("event_type", StringType))))
      .parquet(dir)
      .filter(col("event_type") === "click")
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
  }
}
