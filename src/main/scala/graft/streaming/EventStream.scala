package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Structured Streaming layer. The reference's S3-event loop is
  * control-plane only (SURVEY.md §2 "Streaming semantics: none"), but
  * a complete engine needs data-plane streaming: file-source ingest,
  * watermarked tumbling windows, and custom keyed state.
  *
  * Per SURVEY.md §7.4, every streaming query here has a batch twin
  * (Relational.eventsHourly) so correctness stays oracle-checkable;
  * EventStreamSpec asserts streaming == batch on the fixtures via
  * Trigger.AvailableNow.
  */
object EventStream {

  /** File-source schema: PROBED from the file's actual batch schema,
    * never declared blind. Round 9's lesson: an explicit LongType here
    * read the regenerated TIMESTAMP(MICROS) fixture's INT64 micros AS
    * nanos — `DIV 1000` then compressed event time 1000x and every
    * watermark/window collapsed SILENTLY (q47's hours landed in
    * January 1970 with plausible-looking output). The batch reader is
    * the single source of truth for the physical encoding; the stream
    * schema and the ts conversion both derive from it, so a fixture
    * regeneration can shift the encoding and this path either adapts
    * or fails loudly in Tables.normalizeTs — it can never mis-scale
    * event time again. One tiny driver-side metadata read per stream
    * build; zero cost at scale.
    */
  private def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val observed = Tables.parquet(spark, s"$sfDir/events.parquet")
    val stream = spark.readStream
      .schema(observed.schema)
      // file stream source requires a directory; glob selects the table
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    stream.withColumn("ts", graft.sources.Tables.normalizeTs(stream))
  }

  /** Streaming hourly tumbling-window aggregate over the events file
    * source — the streaming twin of Relational.eventsHourly (q16):
    * identical output contract (hour, event_type, n_events,
    * sum_value), epoch-aligned 1 h windows so `window().start` equals
    * `date_trunc('hour', ts)`, decimal-cast money sum so the result is
    * exact under any microbatch partitioning. Watermark bounds state:
    * at scale, state store size is (watermark horizon x key
    * cardinality), never unbounded.
    */
  def hourlyStream(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  private val runSeq = new java.util.concurrent.atomic.AtomicLong

  /** State-store partition count for the stateful entries. A stateful
    * query pins this at its first checkpoint, and each store instance
    * costs update+commit machinery PER MICROBATCH roughly independent
    * of data volume — measured with graft.tools.StreamProfile on the
    * q62 stream-stream join (4 stores/partition, HDFS provider,
    * sf0.1): at 32 partitions (128 instances) batch 0 spent 127 s
    * updating + 126 s committing summed across instances for 8 MB of
    * total state (26.2 s wall); at 4 partitions the SAME data took
    * 4.3 s + 5.2 s (13.1 s wall). sf0.01 numbers are near-identical —
    * the cost tracks instance count, not rows. RocksDB was no better
    * at this state size (27.3 s wall; its per-instance commit is
    * heavier). So: size state partitions to state volume (~64 MB per
    * instance target), never to the batch shuffle default — the
    * fixtures carry ≤10 MB of state → 4; a production job with
    * 100 GB of state → ~1600.
    */
  val streamStatePartitions: Int = 4

  /** An ISOLATED session (own SQLConf + temp catalog, shared
    * SparkContext and initial options) with shuffle partitions pinned
    * to [[streamStatePartitions]]. Streaming queries must be BUILT on
    * this session — the conf is read from the frame's owning session
    * at query start. Isolation matters: temporarily mutating the
    * shared session's conf would also re-plan any batch query planned
    * concurrently on that session with 4 shuffle partitions, a silent
    * parallelism collapse outside the streaming path.
    */
  private def statePinnedSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions.toString)
    s
  }

  /** The q47 driver entry: [[hourlyStream]] run to completion with
    * Trigger.AvailableNow and returned as a batch frame — the whole
    * streaming path (file source → watermark → windowed aggregate →
    * sink) lands under q16's exact DuckDB oracle. The memory sink is
    * harness plumbing only (production writes parquet/Kafka); its
    * table name is counter-suffixed so repeated invocations in one
    * session (bench medians) never collide.
    */
  def hourlyToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, hourlyStream(_, sfDir),
      s"q47_hourly_${runSeq.incrementAndGet()}")

  /** Sliding windows (2 h window, 1 h slide): each event lands in two
    * overlapping windows. Same bounded-state posture as
    * [[hourlyStream]]; the batch twin is the identical expression on
    * the batch frame (window() is batch-legal), asserted in
    * EventStreamSpec.
    */
  def slidingStream(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n_events"))

  /** The q56 driver entry: [[slidingStream]] run to completion — each
    * event lands in exactly TWO hour-aligned 2 h windows
    * (trunc(ts) − 1 h and trunc(ts)), which is what the oracle SQL
    * replays with a two-element UNNEST; the overlap accounting of
    * sliding windows is therefore under the hard hash compare.
    */
  def slidingToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, slidingStream(_, sfDir),
      s"q56_sliding_${runSeq.incrementAndGet()}")

  /** Batch twin of [[slidingStream]] on the same fixture. */
  def slidingBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n_events"))

  /** The q249 driver entry: STREAMING MERGEABLE HLL — q236's
    * distinct sketch maintained IN STREAMING STATE: per event type,
    * the 64 HLL registers live in the streaming aggregate (64
    * bounded max cells per type — the q159 CMS posture for
    * cardinality instead of frequency), and the final estimate is
    * distinct users per type without the state ever holding a user
    * set. Micro-batch split-invariance IS the mergeability proof:
    * max-merge is associative and commutative, so ANY AvailableNow
    * batching produces the registers the batch q236 device derives —
    * which is exactly what the DuckDB oracle replays. q236's
    * raw-estimator regime bound (accurate from ~2.5m = 160 distincts)
    * carries over; small fixture types show the documented high bias,
    * made visible by the err_micro audit column.
    */
  def hllDistinctStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TrainingPrep.{HllRegisters, HllRankMax}
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long")
    readEvents(spark, sfDir)
      .select(col("event_type"), h.as("h"))
      .select(col("event_type"),
        (col("h") % HllRegisters).as("idx"),
        shiftright(col("h"), 6).as("w"))
      .select(col("event_type"), col("idx"),
        when(col("w") === 0, lit(HllRankMax.toLong))
          .otherwise(lit(HllRankMax.toLong) - length(bin(col("w"))))
          .as("rk"))
      .groupBy(col("event_type"), col("idx"))
      .agg(max(col("rk")).as("m"))
  }

  def hllStreamToBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = runToBatch(spark, hllDistinctStream(_, sfDir),
      s"q249_hll_${runSeq.incrementAndGet()}")
    val exact = graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_distinct_users"))
    exact
      .join(graft.operators.TrainingPrep.hllEstimateFrom(
        regs, "event_type"), Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        col("exact_distinct_users"), col("hll_estimate"),
        expr("""CAST(abs(hll_estimate - exact_distinct_users) * 1000000
              DIV exact_distinct_users AS BIGINT)""").as("err_micro"))
  }

  /** Static user-tier dimension: deterministic function of user_id.
    * Stands in for the classic slowly-changing dimension; at scale
    * this is the broadcast side of a stream-static join (no state, no
    * stream shuffle).
    */
  def userTiers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 3L).map(t => (t, s"tier_$t")).toDF("tier_key", "tier")
  }

  /** Stream-static join: enrich the event stream with the static tier
    * dimension, then a watermarked hourly aggregate per tier.
    * Stream-static joins are stateless on the static side — Spark
    * broadcasts the dimension to every microbatch.
    */
  def tierHourlyStream(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withColumn("tier_key", col("user_id") % 3)
      .join(broadcast(userTiers(spark)), "tier_key")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tier"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour"), col("tier"), col("n_events"))

  /** The q57 driver entry: [[tierHourlyStream]] run to completion —
    * the stream-static broadcast-dimension join (the stateless
    * enrichment shape every streaming pipeline starts with) under the
    * hard oracle; the dimension is deterministic (tier_<user_id%3>),
    * so the SQL twin inlines it.
    */
  def tierHourlyToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, tierHourlyStream(_, sfDir),
      s"q57_tier_${runSeq.incrementAndGet()}")

  /** Batch twin of [[tierHourlyStream]]. */
  def tierHourlyBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "events")
      .withColumn("tier_key", col("user_id") % 3)
      .join(broadcast(userTiers(spark)), "tier_key")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tier"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour"), col("tier"), col("n_events"))

  /** Streaming exact dedup: dropDuplicates on the event key within the
    * watermark horizon — state is bounded by (horizon x arrival rate),
    * the streaming twin of Dedup.exact's batch digest-shuffle.
    */
  def dedupedEvents(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"), col("value"))

  /** The q65 driver entry: streaming exact dedup with REAL duplicates
    * to remove — the input is doubled (two independent file-source
    * readers of the same fixture, the q19 render-your-own-input
    * precedent), so `dropDuplicatesWithinWatermark` must discard
    * exactly half the rows and the oracle is simply the original
    * table. Duplicate pairs carry identical event times, so they
    * always fall inside any watermark horizon of each other.
    */
  def dedupToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark,
      s => readEvents(s, sfDir).unionByName(readEvents(s, sfDir))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value")),
      s"q65_dedup_${runSeq.incrementAndGet()}", OutputMode.Append())

  /** The q81 driver entry: the PRODUCTION sink lifecycle — the same
    * hourly aggregate as q47, but exiting through `foreachBatch` to a
    * parquet directory instead of the memory sink, with a checkpoint
    * location, then READ BACK from the files under the same oracle.
    * Complete-mode + overwrite-per-batch makes the sink idempotent: a
    * microbatch retry rewrites the same full result, so failure
    * recovery (checkpoint replay) never duplicates rows — the
    * standard file-sink pattern for a streamed aggregate. The memory
    * sink in q47/q56/... is harness plumbing; this entry is the shape
    * a deployed pipeline actually runs.
    */
  def hourlyToParquetSink(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q81_sink", sfDir) { dir =>
      val out = s"$dir/out"
      runForeachBatch(hourlyStream(statePinnedSession(spark), sfDir),
          OutputMode.Complete(), dir) { (batch, _) =>
        batch.write.mode("overwrite").parquet(out)
      }
      parquetOrEmpty(spark, StructType(Seq(
        StructField("hour", TimestampType),
        StructField("event_type", StringType),
        StructField("n_events", LongType),
        StructField("sum_value", DoubleType))), existing(out))
    }

  /** The q254 driver entry: STREAMING THRESHOLD ALERTS against a
    * persisted baseline — the monitoring pipeline shape: a batch pass
    * computes each event type's historical rate profile (total
    * events, distinct active hours) and persists it as an artifact
    * (the q221 lifecycle); the hourly streaming aggregate (q47 shape)
    * then joins every COMPLETE window count against the broadcast
    * baseline inside `foreachBatch` and keeps only windows running
    * hot — above 1.5× the type's mean hourly rate, tested by integer
    * cross-multiplication (2·n·n_hours > 3·total, no division, so
    * the gate is bit-portable), written to a parquet alert sink
    * (q81's overwrite-per-batch idempotence under microbatch retry).
    *
    * Scale shape: the baseline is |types| rows and broadcasts; alert
    * filtering happens on the AGGREGATED frame (|types| × horizon
    * windows), never event rows; streaming state is the q47 windowed
    * aggregate's, bounded by the watermark horizon.
    */
  def streamAlerts(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q254_alerts", sfDir) { dir =>
      val out = s"$dir/out"
      val ev = Tables.parquet(spark, s"$sfDir/events.parquet")
      val evTs = ev.withColumn("ts",
        graft.sources.Tables.normalizeTs(ev))
      evTs.select(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("total_events"),
          countDistinct(col("hour")).as("n_hours"))
        .write.mode("overwrite").parquet(s"$dir/baseline")
      val base = Tables.parquet(spark, s"$dir/baseline")
      runForeachBatch(hourlyStream(statePinnedSession(spark), sfDir),
          OutputMode.Complete(), dir) { (batch, _) =>
        batch.join(broadcast(base), "event_type")
          .where(col("n_events") * col("n_hours") * lit(2L) >
            col("total_events") * lit(3L))
          .select(col("hour"), col("event_type"), col("n_events"),
            col("total_events"), col("n_hours"))
          .write.mode("overwrite").parquet(out)
      }
      parquetOrEmpty(spark, StructType(Seq(
        StructField("hour", TimestampType),
        StructField("event_type", StringType),
        StructField("n_events", LongType),
        StructField("total_events", LongType),
        StructField("n_hours", LongType))), existing(out))
    }

  /** Run a streaming frame to completion on the fixture files
    * (Trigger.AvailableNow + memory sink) and return the final result
    * as a batch DataFrame — the harness for batch-parity tests.
    * Aggregations use Complete mode (default); stream-stream joins
    * require Append. The result is materialized eagerly and the
    * sink's temp view dropped before returning — otherwise every
    * invocation (bench medians run each entry 3x) pins another full
    * result copy in the catalog for the session lifetime.
    */
  def runToBatch(spark: SparkSession, build: SparkSession => DataFrame,
      name: String, mode: OutputMode = OutputMode.Complete()): DataFrame =
    runToMemory(spark, build, name, mode)._1

  /** [[runToBatch]] that also returns the finished query, whose
    * progress reports q265 reads.
    */
  private def runToMemory(spark: SparkSession,
      build: SparkSession => DataFrame, name: String,
      mode: OutputMode): (DataFrame, StreamingQuery) = {
    val s = statePinnedSession(spark)
    val q = build(s).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    try (s.table(name).localCheckpoint(true), q)
    finally {
      s.catalog.dropTempView(name)
      unloadStateStores()
    }
  }

  /** Run `stream` to completion (Trigger.AvailableNow) through
    * `foreachBatch(write)`, checkpointed under `dir`, then unload the
    * state stores: the file-sink twin of [[runToBatch]] behind q81,
    * q120, q171, q179, q187, q254 and q263.
    */
  private def runForeachBatch(stream: DataFrame, mode: OutputMode,
      dir: String)(write: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(write)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    unloadStateStores()
  }

  /** `paths` read back under a DECLARED `schema`, or an empty frame of
    * that schema when there are none: a zero-batch run (or an
    * all-dropped input) writes nothing and must read as empty, not
    * fail inference.
    */
  private def parquetOrEmpty(spark: SparkSession, schema: StructType,
      paths: Seq[String]): DataFrame =
    if (paths.nonEmpty) spark.read.schema(schema).parquet(paths: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** `dir` if a sink has created it. */
  private def existing(dir: String): Seq[String] =
    Seq(dir).filter(new java.io.File(_).exists)

  /** The `batch=N` leaves a per-batch-overwrite sink wrote under `out`,
    * listed explicitly: a glob or a bare partitioned-dir read would
    * either log spurious sink-metadata probes or inject the batch id as
    * a partition column.
    */
  private def batchLeaves(out: String): Seq[String] =
    Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getAbsolutePath).sorted

  /** The newest `v{N}` state version under `stateRoot` with N < `below`:
    * the predecessor a versioned merge reads ([[cdcMergeBatch]],
    * [[mvMergeBatch]]) and, unbounded, the final state of q120/q263.
    */
  private def latestVersion(stateRoot: String, below: Long): Seq[String] = {
    val vs = Option(new java.io.File(stateRoot).list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
      .filter(_ < below)
    if (vs.isEmpty) Nil else Seq(s"$stateRoot/v${vs.max}")
  }

  /** A stream over the files an entry rendered to `$dir/incoming`, two
    * per trigger, its schema PROBED from the files' batch schema, never
    * declared blind (the round-9 micros-as-nanos lesson): the input of
    * q171, q179 and q187.
    */
  private def incomingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.parquet(spark, s"$dir/incoming").schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$dir/incoming")

  /** Unload every loaded state-store provider. Each [[runToBatch]]
    * invocation streams against a FRESH temporary checkpoint, so its
    * providers can never be reused — but `StateStore` keeps them (and
    * their maintenance work) loaded for the executor lifetime. In a
    * long session that leak COMPOUNDS: by entry ~100 of a 151-query
    * bench sweep the stateful entries read 58 s for a 2 s query
    * (fresh-JVM median) purely from accumulated provider upkeep.
    * A real cluster job exits the JVM after its query; a harness
    * that runs hundreds must do the unload itself.
    */
  private def unloadStateStores(): Unit =
    org.apache.spark.sql.graftshim.unloadAllStateStores()

  /** Streaming NATIVE session windows (q140): the same 30-minute
    * gap sessionization as batch q73, but through Structured
    * Streaming's `session_window` aggregate — a THIRD session
    * implementation next to q66's `mapGroupsWithState` and q107's
    * `flatMapGroupsWithState`, and the only one where the STATE
    * STORE itself merges windows: each microbatch may extend or
    * fuse previously-stored sessions whose gaps close, the merge
    * logic lives in the engine, not the application. Run to
    * completion under Complete mode so every session (tails
    * included) lands under q73's exact oracle; a deployed pipeline
    * runs Append + watermark instead, emitting sessions as the
    * watermark finalizes them and holding back only the open tail
    * (the q107 posture), with state bounded by the horizon ×
    * active users.
    */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.ReferenceQueries.moneySum(col("value"))
          .as("sum_value"))
      .select(col("user_id"),
        col("sw.start").as("t_start"), col("sw.end").as("t_end"),
        col("n_events"), col("sum_value"))

  /** The q140 driver entry: [[sessionWindowStream]] to completion. */
  def sessionWindowToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, sessionWindowStream(_, sfDir),
      s"q140_sesswin_${runSeq.incrementAndGet()}")

  /** The watermarked purchase side of q62 and q105:
    * `(p_user, purchase_id, purchase_ts, value)`.
    */
  private def purchaseStream(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")

  /** Stream-stream join: click→purchase attribution. Each purchase
    * joins every click by the same user within the preceding hour.
    * Both sides are watermarked and the join condition bounds event
    * time on both ends, so the state store retains only one hour of
    * clicks/purchases — the canonical bounded stream-stream join.
    * Batch twin: [[attributionBatch]] (same filters, same range join).
    */
  def attributionStream(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = readEvents(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = purchaseStream(spark, sfDir)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** The q62 driver entry: the stream-stream attribution join run to
    * completion in Append mode — Trigger.AvailableNow's final no-data
    * batch advances the watermark past the newest event, flushing all
    * retained state, so the emitted rows equal the batch range join
    * and the oracle replays it as plain SQL. With q47/q56/q57 this
    * puts every oracle-expressible streaming shape (tumbling,
    * sliding, stream-static, stream-stream) under the hash compare.
    */
  def attributionToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, attributionStream(_, sfDir),
      s"q62_attr_${runSeq.incrementAndGet()}", OutputMode.Append())

  /** Batch twin of [[attributionStream]]. */
  def attributionBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Stream-stream LEFT OUTER join (q105): every click, joined to
    * same-user purchases in the hour AFTER it — matched rows emit as
    * they join; unmatched clicks emit with NULL purchase columns only
    * once the watermark proves no future purchase can match
    * (watermark past click_ts + 1 hour, the join's upper bound). This
    * is the outer-emission semantic the inner join (q62) never
    * exercises: "no outcome" is itself a result, delivered exactly
    * once and only when it is final.
    *
    * Under Trigger.AvailableNow the final no-data batch advances the
    * watermark to (min of the two sides' max event times) − the 1 h
    * delay, so clicks whose match window closed before that line emit
    * their NULL row, and clicks newer than it are discarded with the
    * state store — they never became final. The oracle replays
    * exactly that cutoff in SQL (see the q105 entry), pinning the
    * global-watermark (min across inputs) and eviction-boundary
    * semantics.
    */
  def clickOutcomeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = readEvents(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = purchaseStream(spark, sfDir)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("c_user").as("user_id"), col("click_ts"),
        col("purchase_id"), col("value"))
  }

  /** The q105 driver entry: [[clickOutcomeStream]] run to completion
    * in Append mode. */
  def clickOutcomeToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, clickOutcomeStream(_, sfDir),
      s"q105_outcome_${runSeq.incrementAndGet()}", OutputMode.Append())

  case class SessionSummary(
      user_id: Long, n_events: Long, total_value: Double, n_purchases: Long)

  /** How long a user's state survives past their newest event before
    * the store evicts it. At 100x scale state size is then bounded by
    * (active users within the horizon), not all users ever seen.
    */
  val sessionIdleHorizonMs: Long = 30L * 24 * 3600 * 1000 // 30 days

  /** Custom keyed state (the reference's "arbitrary reducer logic"
    * slot, streaming edition): per-user running session summary via
    * mapGroupsWithState. Cents-accumulated so output is deterministic.
    *
    * State is BOUNDED: event-time timeout (watermark-driven) evicts a
    * user [[sessionIdleHorizonMs]] after their newest event; the
    * timeout invocation emits the final summary and removes the state.
    * Without this, state grows with distinct users forever — an OOM at
    * 100x (the round-1 verdict's "What's wrong" #4).
    */
  def userSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[(Long, String, Double, java.sql.Timestamp)]

    val summarized = events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, String, Double, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // final emission: counts are unchanged, state is evicted
            val (n, cents, buys) = state.get
            state.remove()
            SessionSummary(uid, n, cents / 100.0, buys)
          } else {
            var (n, cents, buys) =
              state.getOption.getOrElse((0L, 0L, 0L))
            var newest = Long.MinValue
            rows.foreach { case (_, etype, v, ts) =>
              n += 1
              cents += Math.round(v * 100.0)
              if (etype == "purchase") buys += 1
              if (ts.getTime > newest) newest = ts.getTime
            }
            state.update((n, cents, buys))
            state.setTimeoutTimestamp(newest + sessionIdleHorizonMs)
            SessionSummary(uid, n, cents / 100.0, buys)
          }
      }
    summarized.toDF()
  }

  /** Run userSessions to completion (update mode) and return THE FINAL
    * state per user as a batch frame. The update-mode memory sink
    * accumulates one row per user per microbatch (plus timeout
    * emissions); counts are monotone within a user, so the final state
    * is the max-n_events row — deduplicate on that before returning.
    */
  /** Also the q66 driver entry: counts are integers and money
    * accumulates in CENTS (Math.round(v·100), exact for the fixture's
    * positive 2-decimal values), so the final per-user state is
    * bit-reproducible by plain SQL — custom keyed state runs under
    * the hard hash compare, not just the batch-parity spec.
    */
  def userSessionsBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"user_sessions_${runSeq.incrementAndGet()}"
    val s = statePinnedSession(spark)
    val q = userSessions(s, sfDir).writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    try s.table(name)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .localCheckpoint(true)
    finally s.catalog.dropTempView(name)
  }

  /** The open (not yet gap-closed) session carried in keyed state:
    * event times in MICROSECONDS (ms-level `Timestamp.getTime` would
    * diverge from the oracle's microsecond gap arithmetic on
    * sub-millisecond gaps), money in cents (the q66 exactness device).
    */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, cents: Long)

  case class SessionSegment(
      user_id: Long, t_start_us: Long, t_end_us: Long,
      n_events: Long, sum_value: Double)

  /** Session gap for [[sessionSegments]] — 30 min, matching q33's
    * batch sessionize so the oracle reuses its CTE. */
  val segmentGapMs: Long = 30L * 60 * 1000

  /** flatMapGroupsWithState session segmentation (q107): one OUTPUT
    * ROW PER COMPLETED SESSION — the multi-row-emission surface that
    * mapGroupsWithState (q66, one summary per user) cannot express.
    * Events fold in event-time order; a >30 min gap closes the
    * current session and emits it inline; the still-open tail session
    * is parked in state with an event-time timeout at
    * (last event + gap), so it emits exactly when the watermark
    * proves no event can reopen it — and a session the watermark
    * never finalizes (the user's newest activity) is NOT emitted,
    * same contract as q105's outer join.
    *
    * The per-invocation sort is bounded by one user's events per
    * microbatch (the iterator has no cross-batch order guarantee);
    * state is one OpenSession per active user, evicted on timeout —
    * at 100 TB state size is (users active inside the watermark
    * horizon), never all users ever seen.
    */
  def sessionSegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      // the watermarked TIMESTAMP column must survive into the typed
      // frame (projecting it to a long severs the watermark and
      // event-time timeout refuses to plan); micros are derived
      // inside the function from Instant, not ms-lossy getTime
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    def micros(ts: java.sql.Timestamp): Long = {
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionSegment](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[OpenSession]) =>
          def closed(s: OpenSession) = SessionSegment(
            uid, s.startUs, s.lastUs, s.n, s.cents / 100.0)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(closed(s))
          } else {
            val sorted = rows.toSeq.map { case (u, ts, v) =>
              (u, micros(ts), v) }.sortBy(_._2)
            var cur = state.getOption
            val out = Seq.newBuilder[SessionSegment]
            sorted.foreach { case (_, tsUs, v) =>
              val cents = Math.round(v * 100.0)
              cur match {
                case Some(s) if tsUs - s.lastUs <= segmentGapMs * 1000L =>
                  cur = Some(OpenSession(s.startUs, tsUs, s.n + 1, s.cents + cents))
                case Some(s) =>
                  out += closed(s)
                  cur = Some(OpenSession(tsUs, tsUs, 1L, cents))
                case None =>
                  cur = Some(OpenSession(tsUs, tsUs, 1L, cents))
              }
            }
            val tail = cur.get // rows is non-empty when not timed out
            state.update(tail)
            state.setTimeoutTimestamp(tail.lastUs / 1000L + segmentGapMs)
            out.result().iterator
          }
      }.toDF()
  }

  /** The q107 driver entry: [[sessionSegments]] run to completion in
    * Append mode. */
  def sessionSegmentsBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, sessionSegments(_, sfDir),
      s"q107_segments_${runSeq.incrementAndGet()}", OutputMode.Append())

  /** The q143 processor: [[sessionSegments]]' semantics re-expressed
    * through Spark 4's `transformWithState` — the OPERATOR-STATE API
    * that replaces mapGroups/flatMapGroupsWithState: typed state
    * vars are declared by name on a handle (`getValueState`), timers
    * are EXPLICIT (register/delete per key, many allowed) rather
    * than one implicit timeout, and expiry is delivered through a
    * separate `handleExpiredTimer` callback instead of a flag on the
    * input call. The open session is one ValueState; each batch
    * deletes the previous gap timer and registers the new one at
    * (last event + gap), so a session emits exactly when the
    * watermark proves it closed — the q107 contract, same oracle.
    *
    * State layout note for 100 TB: transformWithState requires the
    * RocksDB state store (the provider is set by
    * [[sessionSegmentsTwsBatch]]); state volume is one small row +
    * one timer per active user inside the watermark horizon, and the
    * partition-count rule ([[streamStatePartitions]]) applies
    * unchanged.
    */
  private class SessionTwsProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Double), SessionSegment] {
    @transient private var open:
        org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def closed(uid: Long, s: OpenSession) = SessionSegment(
      uid, s.startUs, s.lastUs, s.n, s.cents / 100.0)
    private def expiryMs(s: OpenSession): Long = s.lastUs / 1000L + gapMs

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionSegment] = {
      val sorted = rows.toSeq.map { case (_, ts, v) =>
        val i = ts.toInstant
        (i.getEpochSecond * 1000000L + i.getNano / 1000L, v)
      }.sortBy(_._1)
      var cur = if (open.exists()) Some(open.get()) else None
      cur.foreach(s => getHandle.deleteTimer(expiryMs(s)))
      val out = Seq.newBuilder[SessionSegment]
      sorted.foreach { case (tsUs, v) =>
        val cents = Math.round(v * 100.0)
        cur match {
          case Some(s) if tsUs - s.lastUs <= gapMs * 1000L =>
            cur = Some(OpenSession(s.startUs, tsUs, s.n + 1, s.cents + cents))
          case Some(s) =>
            out += closed(uid, s)
            cur = Some(OpenSession(tsUs, tsUs, 1L, cents))
          case None =>
            cur = Some(OpenSession(tsUs, tsUs, 1L, cents))
        }
      }
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer(expiryMs(s))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(uid: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionSegment] =
      if (open.exists() && expiryMs(open.get()) <= info.getExpiryTimeInMs) {
        val s = open.get()
        open.clear()
        Iterator.single(closed(uid, s))
      } else Iterator.empty
  }

  /** transformWithState session segmentation (q143): the streaming
    * frame behind the q143 driver entry. */
  def sessionSegmentsTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionTwsProcessor(segmentGapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
  }

  /** The q143 driver entry: [[sessionSegmentsTws]] to completion.
    * transformWithState runs only on the RocksDB state store — set on
    * the pinned session BEFORE query start (the conf is read from the
    * frame's owning session, which runToBatch hands to the builder).
    */
  def sessionSegmentsTwsBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, { s =>
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      sessionSegmentsTws(s, sfDir)
    }, s"q143_tws_${runSeq.incrementAndGet()}", OutputMode.Append())

  /** Streaming point-in-time enrichment (q125): the SERVE-time half
    * of q115's feature-store pair — events stream through a
    * stream-static LEFT OUTER join against the versioned dimension
    * (q108's SCD2 history re-dated to straddle the event range), each
    * event picking the version valid AT ITS OWN TIMESTAMP via the
    * interval predicate. The static side is a dimension (broadcast-
    * scale), so the range condition never degenerates the stream
    * side: every micro-batch joins locally, no stream-side state at
    * all (the join is stateless — static rows never retract). Events
    * on deleted keys after the delete date and events on keys outside
    * the dimension both surface with NULL attrs + is_known = false —
    * the online-serving miss a feature pipeline must make explicit.
    * Train-time (q115) and serve-time (this) read the SAME history,
    * which is the point: offline/online consistency.
    */
  def pitEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = graft.operators.Relational
      .scd2Merge(spark, sfDir, "2024-01-01", "2024-01-15")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("valid_from").cast("timestamp").as("vf"),
        col("valid_to").cast("timestamp").as("vt"))
    readEvents(spark, sfDir)
      .join(broadcast(hist),
        col("user_id") === col("c_custkey") && col("ts") >= col("vf") &&
          (col("vt").isNull || col("ts") < col("vt")),
        "left_outer")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("c_mktsegment").as("seg_at_event"),
        col("c_mktsegment").isNotNull.as("is_known"))
  }

  /** The q125 driver entry: [[pitEnrich]] run to completion. */
  def pitEnrichToBatch(spark: SparkSession, sfDir: String): DataFrame =
    runToBatch(spark, pitEnrich(_, sfDir),
      s"q125_pit_${runSeq.incrementAndGet()}", OutputMode.Append())

  private val cdcStateSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("op", StringType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("v", DecimalType(18, 2)),
    StructField("n_changes", LongType)))

  /** One micro-batch of the streaming CDC apply: merge the batch's
    * changes into the keyed state table at `stateRoot`. State is
    * VERSIONED BY BATCH ID (`v{id}` directories): each batch reads
    * the newest version below its own id and overwrites its own —
    * so a checkpoint-replayed retry rewrites the identical version
    * from the identical predecessor instead of double-applying
    * (idempotence without a transactional table format). The merge
    * itself is q117's aggregate shape: previous state rows re-enter
    * the log carrying their accumulated n_changes as weight, and
    * `max_by` keeps the newest change per key — state stays one row
    * per key, so merge cost is |state| + |batch|, never the log
    * history.
    */
  def cdcMergeBatch(
      batch: DataFrame, batchId: Long, stateRoot: String): Unit = {
    val sp = batch.sparkSession
    val prev = parquetOrEmpty(sp, cdcStateSchema,
      latestVersion(stateRoot, batchId))
    prev.unionByName(batch.withColumn("n_changes", lit(1L)))
      .groupBy(col("user_id"))
      .agg(
        max_by(struct(col("op"), col("ts"), col("v"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("last"),
        sum(col("n_changes")).as("n_changes"))
      .select(col("user_id"), col("last.op").as("op"),
        col("last.ts").as("ts"), col("last.event_id").as("event_id"),
        col("last.v").as("v"), col("n_changes"))
      .write.mode("overwrite").parquet(s"$stateRoot/v$batchId")
  }

  /** The q265 driver entry: WATERMARK LATE-DATA ACCOUNTING — the
    * production streaming concern no other entry exhibits directly:
    * what the engine DROPS. The event table is replayed as THREE
    * ordered micro-batches (event_id mod 3, written in order so the
    * file source reads them in order) through an hourly Append-mode
    * aggregate with a 1-hour watermark. Spark's late-event watermark
    * LAGS the eviction watermark by one batch (a row is dropped
    * against the watermark of the PREVIOUS batch's planning — the
    * design that keeps "evicted at batch N" and "dropped at batch
    * N+1" aligned, so no window is both evicted and re-created) —
    * which means a two-batch replay can never drop anything, and
    * batch 2 is the first to face a real late bar: max(batch-0 ts) −
    * 1 h. Probed empirically before the oracle was written; the
    * numbers below are that measurement.
    *
    * Deterministic replay: batch-2 rows whose hour window closed
    * at-or-before max(b0.ts) − 1 h are dropped; Append's final
    * no-data batch then emits exactly the windows closed at-or-before
    * max(all ts) − 1 h. Both rules are pure arithmetic the oracle
    * replays in SQL (window ends are hour-aligned and the fixture's
    * max ts is microsecond-grained, so the ms-truncated watermark
    * can never tie a boundary). The numRowsDroppedByWatermark
    * metric UNDERCOUNTS the arithmetic (measured 2265 vs 3323 at
    * sf0.01): part of the late rows are cut by the watermark filter
    * pushed below the partial aggregate, which does not increment
    * the state-operator metric — the spec therefore pins the metric
    * as positive and bounded by the arithmetic, while the RESULT
    * rows are what the oracle compares exactly.
    *
    * Scale shape: the q47 windowed-aggregate posture; the entry's
    * POINT is state semantics — late rows never reach state, and
    * state is bounded by the watermark horizon regardless of how
    * disordered the input is.
    */
  def lateDataToBatch(spark: SparkSession, sfDir: String): DataFrame =
    lateDataRun(spark, sfDir)._1

  /** (result, dropped-by-watermark count from progress metrics). */
  def lateDataRun(
      spark: SparkSession, sfDir: String): (DataFrame, Long) = {
    var dropped = 0L
    val df = graft.operators.Scratch.withScratch(spark, "q265_late", sfDir) { dir =>
      val ev = Tables.parquet(spark, s"$sfDir/events.parquet")
      val evTs = ev.withColumn("ts",
        graft.sources.Tables.normalizeTs(ev))
      // three ordered batches by event_id mod 3. FileStreamSource
      // schedules files oldest-mtime-first, so batch order is pinned
      // by STAMPING each write's data files with an explicit,
      // strictly-increasing mtime (one minute apart, anchored in the
      // past) — round-18: the previous 2x1.1 s sleeps existed only to
      // out-wait second-granularity filesystem timestamps and were
      // over half of this entry's bench cost
      def dataFiles(): Seq[java.io.File] =
        Option(new java.io.File(s"$dir/in").listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-"))
      val mtimeBase = System.currentTimeMillis() - 600000L
      evTs.where(col("event_id") % 3 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
      dataFiles().foreach(_.setLastModified(mtimeBase))
      for (m <- Seq(1, 2)) {
        val before = dataFiles().map(_.getName).toSet
        evTs.where(col("event_id") % 3 === m)
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
        dataFiles().filterNot(f => before(f.getName))
          .foreach(_.setLastModified(mtimeBase + m * 60000L))
      }
      val (result, q) = runToMemory(spark, sp =>
        sp.readStream
          .schema(Tables.parquet(sp, s"$dir/in").schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/in")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("w.start").as("hour"), col("event_type"),
            col("n_events")),
        s"q265_late_${runSeq.incrementAndGet()}", OutputMode.Append())
      dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      result
    }
    (df, dropped)
  }

  /** State schema of the q263 incremental materialized view. */
  private val mvStateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("n_events", LongType),
    StructField("sum_cents", LongType)))

  /** One incremental maintenance step of the q263 materialized view:
    * aggregate ONLY the batch (the delta), then additively merge with
    * the previous state version — the batch is never re-joined with
    * raw history, and the merge cost is |state| + |delta aggregate|.
    * Versioned like [[cdcMergeBatch]]: a checkpoint-replayed retry
    * reads the version BELOW its batch id and rewrites the identical
    * successor, so the chain is idempotent without a transactional
    * format.
    */
  def mvMergeBatch(
      batch: DataFrame, batchId: Long, stateRoot: String): Unit = {
    val sp = batch.sparkSession
    val delta = batch.select(col("event_type"),
        to_date(col("ts")).as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val prev = parquetOrEmpty(sp, mvStateSchema,
      latestVersion(stateRoot, batchId))
    prev.unionByName(delta)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))
      .write.mode("overwrite").parquet(s"$stateRoot/v$batchId")
  }

  /** The q263 driver entry: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE
    * — the warehouse feature CDC pipelines exist to feed: a
    * (event_type, day) count/revenue aggregate kept up to date by
    * ADDITIVE delta merges per micro-batch instead of recomputation.
    * The entry renders the event table as four files and streams them
    * one per trigger (`maxFilesPerTrigger = 1`), so the view really
    * is maintained across four incremental steps — each step
    * aggregates only its batch and merges with the persisted state
    * ([[mvMergeBatch]]'s versioned, retry-idempotent chain); the
    * final version must equal the one-shot batch aggregate (the
    * oracle), which holds because integer addition is associative
    * and commutative under ANY stream chopping.
    *
    * Scale shape: per step, the raw batch collapses map-side to the
    * (type, day) domain before anything touches state; the state
    * table is domain-bounded, never event-bounded; history is never
    * re-scanned. This is q120's versioned-upsert device applied to
    * an AGGREGATE view (q120 maintains last-writer-wins per key).
    */
  def incrementalMvToBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q263_mv", sfDir) { dir =>
      val stateRoot = s"$dir/state"
      new java.io.File(stateRoot).mkdirs()
      val ev = Tables.parquet(spark, s"$sfDir/events.parquet")
      ev.withColumn("ts", graft.sources.Tables.normalizeTs(ev))
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(s"$dir/in")
      val sp = statePinnedSession(spark)
      val in = sp.readStream
        .schema(Tables.parquet(sp, s"$dir/in").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
      runForeachBatch(in, OutputMode.Append(), dir) { (batch, id) =>
        mvMergeBatch(batch, id, stateRoot)
      }
      parquetOrEmpty(spark, mvStateSchema,
          latestVersion(stateRoot, Long.MaxValue))
        .select(col("event_type"), col("day"), col("n_events"),
          col("sum_cents"))
        .localCheckpoint(true)
    }

  /** The change-log projection both the streaming and batch CDC
    * paths share (op derivation identical to Relational.cdcReplay).
    */
  private def cdcChanges(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "error", "D")
        .when(col("event_type") === "signup", "I")
        .otherwise("U").as("op"),
      col("value").cast(DecimalType(18, 2)).as("v"))

  /** The q120 driver entry: STREAMING CDC apply — q117's last-writer-
    * wins replay as a deployed micro-batch pipeline: the change log
    * streams through `foreachBatch`, each batch upserts into the
    * versioned keyed state table ([[cdcMergeBatch]]), and the final
    * state reads back under q117's exact batch oracle (stream ==
    * batch, the EventStreamSpec discipline; the spec additionally
    * drives the merge over a MULTI-batch split and proves the same
    * fixed point). This is the production shape of "apply CDC to a
    * warehouse table" when no transactional format is available:
    * idempotent versioned overwrites + one-row-per-key state.
    */
  def cdcApplyToBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q120_cdc", sfDir) { dir =>
      val stateRoot = s"$dir/state"
      new java.io.File(stateRoot).mkdirs()
      val sp = statePinnedSession(spark)
      runForeachBatch(cdcChanges(readEvents(sp, sfDir)),
          OutputMode.Append(), dir) { (batch, id) =>
        cdcMergeBatch(batch, id, stateRoot)
      }
      val st = parquetOrEmpty(spark, cdcStateSchema,
        latestVersion(stateRoot, Long.MaxValue))
      // cents-BIGINT output (not DECIMAL) for the exact hash compare —
      // see Relational.cdcReplay; the state table keeps exact decimals.
      st.select(col("user_id"), col("op").as("last_op"),
        col("ts").as("last_ts"),
        when(col("op") === "D", lit(null).cast("long"))
          .otherwise((col("v") * 100).cast("long")).as("last_value_cents"),
        (col("op") =!= "D").as("is_live"), col("n_changes"))
        .localCheckpoint(true)
    }

  /** One emitted probe row of [[cmsMaintained]]; `n_seen` is the
    * key's total processed-row count — strictly monotone per key, so
    * the batch wrapper can select each key's FINAL emission.
    */
  case class CmsProbeRow(
      event_type: String, user_id: Long, n_exact: Long,
      approx_ok: Boolean, n_seen: Long)

  /** The q159 driver entry: STREAMING SKETCH MAINTENANCE — a
    * count-min sketch per event_type kept incrementally in keyed
    * state across micro-batches (the monitoring-pipeline shape:
    * heavy-hitter / frequency telemetry that must survive an
    * unbounded stream without unbounded memory). The streaming twin
    * of q60's batch CMS, sharing its parameters (eps, confidence,
    * seed 42) and its probe contract: per (event_type, probe user)
    * emit the EXACT count next to `approx_ok` = estimate within the
    * CMS guarantee band [exact, exact + ceil(eps·N)] (the q39/q48
    * bound-fold device — a sketch drifting out of bound fails the
    * oracle hash, not just a unit test).
    *
    * Why it is exactly mergeable across any micro-batch split: CMS
    * registers only ADD, and integer adds commute — the register
    * matrix after the last batch is identical however the stream was
    * chopped, so the final probe rows are deterministic and the
    * batch oracle (q60's own) applies verbatim. Exact probe counts
    * ride the same state as a 10-slot array (probe ids are
    * `user_id < cmsProbeUsers`), so nothing is recomputed batch-side.
    *
    * State sizing at 100 TB: one sketch is eps⁻¹·ln(1/δ) longs
    * (~1 MB here) per DISTINCT KEY — bounded by the event-type
    * domain, not the stream; the serialize/deserialize per key per
    * batch is the documented cost of sketch-in-GroupState (Spark's
    * CountMinSketch serializes its register matrix verbatim, so the
    * round-trip is exact).
    */
  def cmsMaintained(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val eps = graft.operators.Sketches.cmsEps
    val conf = graft.operators.Sketches.cmsConfidence
    val nProbe = graft.operators.Sketches.cmsProbeUsers
    val events = readEvents(spark, sfDir)
      .select(col("event_type"), col("user_id")).as[(String, Long)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Array[Byte], Array[Long], Long), CmsProbeRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (etype: String, rows: Iterator[(String, Long)],
         state: GroupState[(Array[Byte], Array[Long], Long)]) =>
          val (skBytes, probeCounts, nSeen) = state.getOption.getOrElse(
            (Array.empty[Byte], Array.fill(nProbe)(0L), 0L))
          val cms =
            if (skBytes.isEmpty) CountMinSketch.create(eps, conf, 42)
            else CountMinSketch.readFrom(
              new java.io.ByteArrayInputStream(skBytes))
          var n = nSeen
          rows.foreach { case (_, uid) =>
            cms.add(uid)
            if (uid >= 0 && uid < nProbe) probeCounts(uid.toInt) += 1
            n += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          cms.writeTo(out)
          state.update((out.toByteArray, probeCounts, n))
          val cap = (l: Long) => l + math.ceil(eps * n).toLong
          (0L until nProbe).iterator
            .filter(uid => probeCounts(uid.toInt) > 0)
            .map { uid =>
              val exact = probeCounts(uid.toInt)
              val est = cms.estimateCount(uid)
              CmsProbeRow(etype, uid, exact,
                est >= exact && est <= cap(exact), n)
            }
      }
      .toDF()
  }

  /** Also the q159 driver entry: [[cmsMaintained]] run to completion
    * in Update mode; the final emission per (event_type, user_id) —
    * the max-`n_seen` row, q66's monotone-selector device — is the
    * maintained sketch's answer, compared against q60's exact batch
    * oracle.
    */
  def cmsMaintainedBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = runToBatch(spark, cmsMaintained(_, sfDir),
      s"q159_cms_${runSeq.incrementAndGet()}", OutputMode.Update())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("n_seen").desc)
    raw.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("user_id"), col("n_exact"),
        col("approx_ok"))
  }

  /** The q171 driver entry: STREAMING NOVELTY GATE — the daily-ingest
    * front door of a corpus pipeline: documents arrive as a file
    * stream and only those whose content digest is NOT in the
    * PERSISTED history index pass through; the index is then
    * refreshed with the accepted digests for tomorrow's run (the q46
    * persisted-signature lifecycle, upgraded from batch to the
    * streaming arrival path). History = even doc_ids, arrivals = odd
    * doc_ids — rendered as four files streamed two per trigger, so
    * the gate genuinely runs across multiple micro-batches AND each
    * batch carries multiple files (round-18: was one file per
    * trigger; batch-split invariance needs ≥2 batches, not 4, and
    * each extra stateless micro-batch pays ~0.3-0.5 s of pure
    * planning/commit fixed cost at fixture scale).
    *
    * Semantics pinned batch-split-invariant BY CONSTRUCTION: each
    * batch anti-joins against the STATIC day-1 index only (novelty
    * vs HISTORY — within-stream duplicates all pass and the refresh
    * dedups them), so the accepted set is identical however the
    * files split into batches, and q46's exact SQL oracle applies.
    * The sink is the q120 idempotence device: each batch OVERWRITES
    * its own batch=N subdirectory, so a checkpoint-replayed retry
    * rewrites the identical files instead of appending duplicates —
    * the append-mode trap `foreachBatch` docs warn about.
    *
    * Scale shape: the digest index is digest-only (16 bytes/doc) and
    * static per run — at fixture scale it broadcasts into the
    * anti-join; a 100 TB history upgrades the anti-join to a shuffle
    * join keyed on the digest (the join shape is unchanged) and the
    * refresh becomes a partitioned parquet merge. The stream side is
    * stateless: no watermark, no state store — the state IS the
    * persisted artifact, which is why a failed run resumes by simply
    * re-reading it.
    */
  def noveltyGate(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q171_novelty", sfDir) { dir =>
      import graft.operators.TextAnalysis.normalizedText
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      docs.where(col("doc_id") % 2 === 0)
        .select(md5(normalizedText(col("text"))).as("fp"))
        .distinct()
        .write.mode("overwrite").parquet(s"$dir/index")
      docs.where(col("doc_id") % 2 === 1)
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/incoming")
      val out = s"$dir/out"
      runForeachBatch(incomingStream(spark, dir), OutputMode.Append(), dir) {
        (batch, id) =>
          val idx = Tables.parquet(batch.sparkSession, s"$dir/index")
          batch
            .withColumn("fp", md5(normalizedText(col("text"))))
            .join(idx, Seq("fp"), "left_anti")
            .select(col("doc_id"), col("fp"))
            .write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      val accepted = parquetOrEmpty(spark, StructType(Seq(
        StructField("doc_id", LongType), StructField("fp", StringType))),
        batchLeaves(out))
      // index refresh: tomorrow's history = today's ∪ accepted
      Tables.parquet(spark, s"$dir/index")
        .unionByName(accepted.select(col("fp")))
        .distinct()
        .write.mode("overwrite").parquet(s"$dir/index_next")
      accepted.localCheckpoint(true)
    }

  /** The q179 driver entry: STREAMED MODEL SERVING — q178's scorer
    * run as the online endpoint: the model (weights + bias row) is a
    * persisted parquet artifact, documents arrive as a multi-file
    * stream, and each micro-batch featurizes + scores against the
    * READ-BACK model alone (the q156/q160 persisted-artifact serve,
    * for the quality scorer instead of the ANN index). Stateless:
    * per-doc rows depend only on the doc and the static model, so
    * the output is batch-split-invariant and q178's exact oracle
    * applies verbatim to the whole stream. Sink idempotence via the
    * per-batch overwrite dirs (q120/q171 device); stream schema
    * probed from the files, never declared.
    */
  def scoreServeStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q179_model", sfDir) { dir =>
      graft.operators.TrainingPrep.placeholderModel(spark)
        .write.mode("overwrite").parquet(s"$dir/model")
      graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/incoming")
      val out = s"$dir/out"
      // the model is STATIC for the life of the stream: read the
      // artifact ONCE (weights pinned via localCheckpoint, bias row
      // collected once) and reference it from every micro-batch —
      // round-11 advice: re-reading the parquet + a driver .head()
      // inside foreachBatch charged a per-batch cost to an artifact
      // that never changes between batches
      val model = Tables.parquet(spark, s"$dir/model")
      val weights = model.where(col("bucket") >= 0L).localCheckpoint(true)
      val bq = model.where(col("bucket") === -1L).head().getLong(1)
      runForeachBatch(incomingStream(spark, dir), OutputMode.Append(), dir) {
        (batch, id) =>
          graft.operators.TrainingPrep
            .scoreWith(batch, weights, lit(bq))
            .write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      weights.unpersist()
      parquetOrEmpty(spark, StructType(Seq(
        StructField("doc_id", LongType), StructField("n_active", LongType),
        StructField("z_micro", LongType),
        StructField("score_micro", LongType),
        StructField("keep", BooleanType))), batchLeaves(out))
    }

  /** The q187 driver entry: STREAMING OUTLIER GATE from persisted
    * robust bounds — the online half of q186's robust-statistics
    * story: per-event-type (median, MAD) cents bounds train in batch
    * (`Relational.robustTypeBounds`), persist as a parquet artifact,
    * and every arriving event is flagged against the READ-BACK
    * bounds alone — the fraud/billing-anomaly front door, shaped
    * exactly like q179's model serve (train artifact → stateless
    * stream serve). Stateless + static artifact ⇒ batch-split-
    * invariant, so the batch twin (`Relational.madEventGate`) is the
    * exact oracle for the whole stream regardless of microbatch
    * boundaries. The gate itself compares INTEGERS (|cents−med| >
    * 3·MAD — the q178 decision rule); sink idempotence via per-batch
    * overwrite dirs (q120/q171 device); stream schema probed from
    * the files, never declared (the round-9 lesson).
    */
  def madGateStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q187_mad_gate", sfDir) { dir =>
      graft.operators.Relational.robustTypeBounds(spark, sfDir)
        .write.mode("overwrite").parquet(s"$dir/bounds")
      graft.sources.Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("cents"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/incoming")
      val out = s"$dir/out"
      runForeachBatch(incomingStream(spark, dir), OutputMode.Append(), dir) {
        (batch, id) =>
          graft.operators.Relational
            .madEventGateWith(batch,
              Tables.parquet(batch.sparkSession, s"$dir/bounds"))
            .write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      parquetOrEmpty(spark, StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("cents", LongType),
        StructField("med_cents", LongType),
        StructField("mad_cents", LongType),
        StructField("is_outlier", BooleanType))), batchLeaves(out))
    }

  /** The q333 driver entry: WATERMARK-DELAY PLANNER — the tuning
    * table behind every `withWatermark` in this file: a delay too
    * short DROPS late rows silently, too long holds state and
    * latency, and the right value is read off the corpus's ARRIVAL
    * log, not guessed. The fixture's event log is arrival-ordered
    * (zero organic lateness), so the ingestion-delay model is
    * PLANTED and replayed on both engines (the q320
    * sampler-replay discipline): every 17th event arrives
    * (event_id % 7 + 1) minutes after its event time — a
    * deterministic network-delay model producing 1–7-minute
    * stragglers. The planner computes each event's lateness against
    * the stream's event-time high-water mark at its arrival (the
    * exact quantity Structured Streaming compares to the watermark)
    * and tabulates, per candidate delay d: events arriving late at
    * all, events a watermark of d would DROP, and the drop rate —
    * the curve an operator reads to pick the delay where drops hit
    * zero (d >= 420 s here, the plant's own bound, which the table
    * must and does rediscover).
    *
    * Scale shape: the high-water mark is a running MAX over arrival
    * order — a corpus-scale total order, ranked through
    * [[graft.operators.Relational.chunkedPrefixMax]] (fixed-width
    * arrival-time buckets; no partition-less window). The lateness
    * frame pins once; every delay arm is a conditional sum over it,
    * landing on the bounded delay-grid domain.
    */
  def watermarkDelayPlanner(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("t"))
      .withColumn("arr", col("t") + expr(
        "CASE WHEN event_id % 17 = 0 THEN (event_id % 7 + 1) * 60000000 ELSE 0 END"))
    val wm = graft.operators.Relational.chunkedPrefixMax(ev,
      bucket = graft.operators.Relational.rangeBucket(col("arr"), 3600000000L),
      order = Seq(col("arr").asc, col("event_id").asc),
      value = col("t"), out = "wm")
    val late = wm.select(
      when(col("wm").isNull || col("wm") <= col("t"), 0L)
        .otherwise(col("wm") - col("t")).as("lt"))
      .localCheckpoint(true) // read once per delay arm
    Seq(0L, 60L, 120L, 300L, 600L).map { d =>
      late.agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(when(col("lt") > 0L, 1L).otherwise(0L)).cast("long")
          .as("n_late"),
        sum(when(col("lt") > d * 1000000L, 1L).otherwise(0L)).cast("long")
          .as("n_dropped"))
        .select(lit(d).as("delay_s"), col("n_events"), col("n_late"),
          col("n_dropped"),
          expr("CASE WHEN n_events > 0 THEN n_dropped * 1000000 DIV n_events END")
            .as("dropped_ppm"))
    }.reduce(_ unionByName _)
  }
}
