package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.operators.Relational

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def sf: String = SparkTestSession.sf

  test("streaming hourly window equals the batch twin (counts per hour/type)") {
    val streamed = EventStream.runToBatch(
      spark, EventStream.hourlyStream(_, sf), "hourly_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = Relational.eventsHourly(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch)
  }

  test("sliding-window stream equals its batch twin") {
    val streamed = EventStream.runToBatch(
      spark, EventStream.slidingStream(_, sf), "sliding_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = EventStream.slidingBatch(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // sliding: total window-event memberships = 2x event count
    val nEvents = graft.sources.Tables.load(spark, sf, "events").count()
    assert(streamed.values.sum == 2 * nEvents)
  }

  test("streaming session_window equals the batch session_window aggregate") {
    val streamed = EventStream.sessionWindowToBatch(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    val batch = Relational.sessionWindowAgg(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(streamed == batch)
  }

  test("stream-static join (tier dimension) equals its batch twin") {
    val streamed = EventStream.runToBatch(
      spark, EventStream.tierHourlyStream(_, sf), "tier_test")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = EventStream.tierHourlyBatch(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed.keys.map(_._2).toSet == Set("tier_0", "tier_1", "tier_2"))
  }

  test("streaming dedup keeps each event key once (append mode)") {
    val q = EventStream.dedupedEvents(spark, sf).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("dedup_test").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    // fixture event_ids are unique, so dedup passes everything through
    assert(ids.length == graft.sources.Tables.load(spark, sf, "events").count())
  }

  test("stream-stream attribution join equals its batch twin") {
    val streamed = EventStream.runToBatch(
      spark, EventStream.attributionStream(_, sf), "attr_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(3))).toSet
    val batch = EventStream.attributionBatch(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture should contain attributable purchases")
    // every attributed click strictly precedes its purchase, within 1h
    EventStream.attributionBatch(spark, sf).collect().foreach { r =>
      val p = r.getTimestamp(2).getTime; val c = r.getTimestamp(3).getTime
      assert(c < p && c >= p - 3600 * 1000L)
    }
  }

  test("stream-stream LEFT OUTER: matched rows join, finalized misses emit NULLs") {
    val rows = EventStream.clickOutcomeToBatch(spark, sf).collect()
    val matched = rows.filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val missed = rows.filter(_.isNullAt(3)).map(_.getLong(0)).toSet
    assert(matched.nonEmpty && missed.nonEmpty,
      "fixture must exercise both join outcomes")

    // batch truth: the same range join...
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val joined = clicks.join(purch,
      col("c_user") === col("p_user") && col("p_ts") >= col("click_ts") &&
        col("p_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
    assert(matched == joined.select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // ...and NULL rows are exactly the unmatched clicks whose window
    // closed before the final watermark: min(side maxima) - 1h delay
    val wm = math.min(
      clicks.agg(max(col("click_ts"))).head().getTimestamp(0).getTime,
      purch.agg(max(col("p_ts"))).head().getTimestamp(0).getTime) -
      3600 * 1000L
    val expectMissed = clicks
      .join(joined.select("click_id"), Seq("click_id"), "left_anti")
      .collect()
      .filter(_.getTimestamp(2).getTime + 3600 * 1000L <= wm)
      .map(_.getLong(0)).toSet
    assert(missed == expectMissed)
  }

  test("flatMapGroups segments match batch sessionize minus unfinalized tails") {
    val got = EventStream.sessionSegmentsBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // batch truth: q33's sessionize rule in plain Scala
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val wmMs = evs.map(_._2).max / 1000L - 3600000L
    val gapUs = EventStream.segmentGapMs * 1000L
    val expect = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(_._2)
      val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long, Double)]]) {
        case (acc, e) if acc.nonEmpty && e._2 - acc.last.last._2 <= gapUs =>
          acc.init :+ (acc.last :+ e)
        case (acc, e) => acc :+ Vector(e)
      }
      val finalized = sessions.init ++
        sessions.lastOption.filter(s =>
          s.last._2 / 1000L + EventStream.segmentGapMs <= wmMs)
      finalized.map(s => (uid, s.head._2, s.last._2, s.length.toLong))
    }.toSet
    assert(got == expect)
    assert(got.nonEmpty)
    // the contract is meaningful: some tail sessions must be withheld
    val allSessions = expect.size +
      evs.map(_._1).distinct.count { uid =>
        val last = evs.filter(_._1 == uid).map(_._2).max
        last / 1000L + EventStream.segmentGapMs > wmMs
      }
    assert(allSessions > expect.size, "fixture should withhold some tails")
  }

  test("transformWithState segments equal the flatMapGroupsWithState segments") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4))
    val tws = EventStream.sessionSegmentsTwsBatch(spark, sf)
      .collect().map(key).toMap
    val fmg = EventStream.sessionSegmentsBatch(spark, sf)
      .collect().map(key).toMap
    assert(tws == fmg,
      s"state APIs disagree: tws=${tws.size} fmg=${fmg.size}")
    assert(tws.nonEmpty)
  }

  test("streaming agg resumes from its checkpoint: no loss, no reprocessing") {
    // the fault-tolerance contract behind every streaming entry: kill
    // a query mid-stream, restart from the same checkpoint, and the
    // final result is exact while already-committed microbatches are
    // NOT re-read. Input = events shattered into 4 files consumed one
    // per microbatch.
    val base = java.nio.file.Files
      .createTempDirectory("graft_ckpt_spec").toString
    try {
      spark.read.parquet(s"$sf/events.parquet")
        .repartition(4).write.mode("overwrite").parquet(s"$base/in")
      val totalRows = spark.read.parquet(s"$base/in").count()

      // schema probed from the written files, ts normalized from the
      // observed type — same adaptive contract as EventStream.readEvents
      val observed = spark.read.parquet(s"$base/in").schema
      def aggStream() = {
        val s = spark.readStream
          .schema(observed)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in")
        s.withColumn("ts", graft.sources.Tables.normalizeTs(s))
      }
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("hour"), col("event_type"), col("n_events"))

      // run 1: let at least one microbatch COMMIT, then stop
      // mid-stream; the 500 ms pacing keeps later batches from racing
      // past the stop() (progress events fire only AFTER a commit)
      val q1 = aggStream().writeStream
        .outputMode("complete").format("memory").queryName("ckpt_run1")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"))
        .start()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((q1.recentProgress.count(_.numInputRows > 0) < 1) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      q1.stop(); q1.awaitTermination()
      val committed = q1.recentProgress.map(_.numInputRows).sum
      assert(committed > 0, "run 1 must commit at least one microbatch")
      assert(committed < totalRows, "run 1 must NOT have consumed everything")

      // run 2: same checkpoint, drain the rest
      val q2 = aggStream().writeStream
        .outputMode("complete").format("memory").queryName("ckpt_run2")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      val reprocessed = q2.recentProgress.map(_.numInputRows).sum

      // exactly-once across the restart: run 2 reads only what run 1
      // had not committed...
      assert(reprocessed <= totalRows - committed,
        s"run 2 re-read committed data: $reprocessed > ${totalRows - committed}")
      // ...and the final aggregate equals the batch truth exactly
      val streamed = spark.table("ckpt_run2").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.sources.Tables.load(spark, sf, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      Seq("ckpt_run1", "ckpt_run2").foreach(spark.catalog.dropTempView(_))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("cdc merge over multiple batches reaches the batch-replay fixed point; retries are idempotent") {
    import graft.streaming.EventStream
    val root = java.nio.file.Files
      .createTempDirectory("graft-cdc-state").toString
    val log = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I")
          .otherwise("U").as("op"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("v"))
    // three chronological micro-batches by event_id thirds
    val ids = log.select(col("event_id")).collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val batches = Seq(
      log.filter(col("event_id") <= cuts(0)),
      log.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      log.filter(col("event_id") > cuts(1)))
    batches.zipWithIndex.foreach { case (b, i) =>
      EventStream.cdcMergeBatch(b, i.toLong, root)
    }
    def readState(v: Long) = spark.read.parquet(s"$root/v$v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(5)))
      .toSet
    val finalState = readState(2)
    // retry simulation: re-running batch 1 must rewrite v1 unchanged
    // (reads v0, not its own output) and leave v2's content the truth
    val v1Before = readState(1)
    EventStream.cdcMergeBatch(batches(1), 1L, root)
    assert(readState(1) == v1Before)
    // fixed point == q117's single-shot batch replay
    val want = graft.operators.Relational.cdcReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5))).toSet
    assert(finalState.map(t => (t._1, t._2, t._4)) == want)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("streaming pit enrichment: events see the version valid at their timestamp") {
    val rows = graft.streaming.EventStream.pitEnrichToBatch(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val segs = graft.sources.Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val asOf = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    rows.foreach { r =>
      val (u, ts, seg, known) =
        (r.getLong(1), r.getTimestamp(2), r.getString(3), r.getBoolean(4))
      val after = !ts.before(asOf)
      if (u % 101 == 0)
        assert(if (after) !known else seg == segs(u), s"$u $ts")
      else if (u % 7 == 0)
        assert(known && seg == (if (after) "CHANGED" else segs(u)), s"$u $ts")
      else assert(known && seg == segs(u), s"$u $ts")
    }
  }

  test("stateful user sessions match batch per-user aggregates (one row per user)") {
    val rows = EventStream.userSessionsBatch(spark, sf).collect()
    // userSessionsBatch dedupes to the final state: exactly one row/user
    val sessions = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(sessions.size == rows.length, "duplicate users in batch view")
    val batch = graft.sources.Tables.load(spark, sf, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sessions == batch)
  }

  test("streaming CMS maintenance lands exactly on the batch sketch's probe contract") {
    val streamed = EventStream
      .cmsMaintainedBatch(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3)))
      .toMap
    // q60's batch CMS over the same fixture: identical probe rows —
    // same exact counts AND every estimate inside the guarantee band
    // (register adds commute, so the micro-batch split can't move
    // the final matrix off the batch one)
    val batch = graft.operators.Sketches
      .cmsFrequency(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.values.forall(_._2),
      "every probe estimate must sit inside the CMS band")
  }

  test("novelty gate: history rejects, normalization matters, in-stream dups pass") {
    // history (even ids): "x", "y"; arrivals (odd ids):
    //   1 = "x" (in history -> rejected)
    //   3 = "z" (novel -> accepted)
    //   5 = "z" (novel vs HISTORY, dup within stream -> accepted)
    //   7 = "  Y " (normalizes to "y" -> rejected)
    import spark.implicits._
    Seq((0L, "x"), (2L, "y"),
        (1L, "x"), (3L, "z"), (5L, "z"), (7L, "  Y "))
      .toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet("/tmp/graft-novelty-test/documents.parquet")
    val got = graft.streaming.EventStream
      .noveltyGate(spark, "/tmp/graft-novelty-test")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 5L))
  }

  test("streamed scoring equals the one-shot batch score row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))
    val batch = graft.operators.TrainingPrep
      .scoreDocs(spark, SparkTestSession.sf).collect().map(key).toSet
    val streamed = graft.streaming.EventStream
      .scoreServeStream(spark, SparkTestSession.sf).collect().map(key).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamed MAD gate equals the batch twin row-for-row; bounds are lower medians") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))
    val batch = graft.operators.Relational
      .madEventGate(spark, SparkTestSession.sf).collect().map(key).toSet
    val streamed = graft.streaming.EventStream
      .madGateStream(spark, SparkTestSession.sf).collect().map(key).toSet
    assert(streamed == batch && batch.nonEmpty)
    // trained bounds: the lower median is an OBSERVED value (no
    // interpolation) — every (med, mad) pair must be attained
    import spark.implicits._
    val ev = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0), (4L, "a", 40.0))
      .toDF("event_id", "event_type", "value")
      .select($"event_id", $"event_type",
        org.apache.spark.sql.functions
          .floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
    val b = graft.operators.Relational.robustTypeBoundsOn(ev).head()
    // even count 4 → lower median = rank 2 = 2000 cents;
    // absdevs: 1000 0 1000 2000 → lower median = rank 2 = 1000
    assert(b.getString(0) == "a" && b.getLong(1) == 2000L &&
      b.getLong(2) == 1000L)
  }

  test("streaming HLL: state registers equal the batch sketch; estimate regime sane (q249)") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    // micro-batch split-invariance: the streamed registers must equal
    // a batch recompute of the identical expressions
    val streamed = graft.streaming.EventStream
      .hllStreamToBatch(spark, SparkTestSession.sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed.nonEmpty)
    val ev = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "events")
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.keySet == exact.keySet)
    streamed.foreach { case (et, (n, d, est, err)) =>
      assert((n, d) == exact(et))
      // accuracy is only promised in the raw-estimator regime
      // (d >= 2.5m = 160 — the q236 docstring's documented bound);
      // sub-regime types show the known high bias, asserted as such
      if (d >= 160) assert(math.abs(est - d).toDouble / d < 0.6,
        s"$et est=$est d=$d")
      else assert(est >= d / 2, s"$et sub-regime estimate collapsed")
      assert(err == math.abs(est - d) * 1000000 / d)
    }
  }

  test("q265 late data: the result equals the three-batch watermark arithmetic and rows really drop") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    val (df, dropped) = graft.streaming.EventStream.lateDataRun(spark, sf)
    val got = df.collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val lateBar = ev.where(col("event_id") % 3 === 0)
      .agg(max(col("ts"))).head().getTimestamp(0).getTime - 3600000L
    val finalBar = ev.agg(max(col("ts"))).head().getTimestamp(0)
      .getTime - 3600000L
    val rows = ev.select(col("event_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val kept = rows.filter { case (id, _, hour) =>
      id % 3 != 2 || hour.getTime + 3600000L > lateBar
    }
    val expected = kept
      .filter { case (_, _, hour) => hour.getTime + 3600000L <= finalBar }
      .groupBy { case (_, et, hour) => (hour, et) }
      .view.mapValues(_.length.toLong).toMap
    assert(got == expected)
    // rows genuinely dropped: the metric is positive and cannot
    // exceed the arithmetic's late set (it undercounts — part of the
    // late rows die in the pushed watermark filter, outside the
    // state operator's accounting)
    val lateSet = rows.count { case (id, _, hour) =>
      id % 3 == 2 && hour.getTime + 3600000L <= lateBar
    }
    assert(dropped > 0L && dropped <= lateSet.toLong,
      s"dropped=$dropped lateSet=$lateSet")
  }

  test("q263 incremental MV: four additive merges land on the batch aggregate; the merge step is retry-idempotent") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    val got = graft.streaming.EventStream.incrementalMvToBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val expected = ev.select(col("event_type"), to_date(col("ts")).as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    // retry idempotence of the merge step: applying the same batch id
    // twice over the same predecessor produces the identical state
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mv-spec").toString
    val batch1 = ev.where(col("event_id") % 4 === 0)
    val batch2 = ev.where(col("event_id") % 4 === 1)
    graft.streaming.EventStream.mvMergeBatch(batch1, 0L, dir)
    graft.streaming.EventStream.mvMergeBatch(batch2, 1L, dir)
    def state(v: Long) = spark.read.parquet(s"$dir/v$v").collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    val once = state(1L)
    graft.streaming.EventStream.mvMergeBatch(batch2, 1L, dir) // retry
    assert(state(1L) == once, "retry must rewrite the identical version")
    // and the chain is genuinely incremental: v1 = v0 + delta(batch2)
    val v0 = state(0L)
    val d2 = batch2.select(col("event_type"), to_date(col("ts")).as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    val merged = (v0.keySet ++ d2.keySet).map { k =>
      val a = v0.getOrElse(k, (0L, 0L)); val b = d2.getOrElse(k, (0L, 0L))
      k -> (a._1 + b._1, a._2 + b._2)
    }.toMap
    assert(once == merged)
  }

  test("q254 streaming alerts equal the batch gate and respect the threshold law") {
    val sf = SparkTestSession.sf
    val got = graft.streaming.EventStream.streamAlerts(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty, "fixture produces at least one hot window")
    // batch twin: hourly counts + baseline, same integer gate
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
    val hourly = ev.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val base = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("t"), count_distinct(col("hour")).as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = hourly.collect {
      case ((et, hr), n) if 2L * n * base(et)._2 > 3L * base(et)._1 =>
        (hr, et) -> (n, base(et)._1, base(et)._2)
    }.toMap
    assert(got == expected)
    // and every emitted row satisfies the law by construction
    got.foreach { case ((_, _), (n, total, hours)) =>
      assert(2L * n * hours > 3L * total)
    }
  }

  test("exactly-once sink: a crash AFTER the foreachBatch write, BEFORE the checkpoint commit, replays byte-identically") {
    // The reference's S3-event redelivery is at-least-once (SURVEY §4);
    // Spark closes the gap with replayable sources + idempotent sinks.
    // This spec drives the EXACT failure window that distinguishes the
    // two: the sink has durably written a microbatch, the crash lands
    // before the offset commit, so the restart REDELIVERS that batch
    // (same batch id, same pinned file set) and the
    // overwrite-by-batch-id sink must rewrite it IDENTICALLY — the
    // at-least-once delivery becomes exactly-once observable output.
    val base = java.nio.file.Files
      .createTempDirectory("graft_sink_crash").toString
    def digest(dir: String): String = {
      val rows = spark.read.parquet(dir).collect()
        .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getDouble(2)}")
        .sorted.mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    try {
      spark.read.parquet(s"$sf/events.parquet")
        .repartition(4).write.mode("overwrite").parquet(s"$base/in")
      val totalRows = spark.read.parquet(s"$base/in").count()
      val observed = spark.read.parquet(s"$base/in").schema
      def src() = spark.readStream
        .schema(observed)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
        .select(col("event_id"), col("event_type"), col("value"))
      def run(out: String, ckpt: String,
          crashOn: Option[Long]): Option[Throwable] = {
        val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
        val q = src().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$bid")
            if (crashOn.contains(bid) && !crashed.getAndSet(true))
              throw new RuntimeException("injected post-write crash")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); None }
        catch { case e: org.apache.spark.sql.streaming
          .StreamingQueryException => Some(e) }
      }
      // run 1: crash right after batch 1's files are on disk
      val err = run(s"$base/out1", s"$base/ckpt1", crashOn = Some(1L))
      assert(err.exists(_.getMessage.contains("injected")),
        s"crash must surface: $err")
      val writtenPreCrash = digest(s"$base/out1/batch=1")
      // run 2: same checkpoint — batch 1 is redelivered (its offsets
      // never committed) and rewritten; the rewrite must be identical
      assert(run(s"$base/out1", s"$base/ckpt1", crashOn = None).isEmpty)
      assert(digest(s"$base/out1/batch=1") == writtenPreCrash,
        "idempotent sink replay changed batch 1's content")
      // uninterrupted twin: the recovered sink equals a run that never
      // crashed — same batch directories, same total content
      assert(run(s"$base/out2", s"$base/ckpt2", crashOn = None).isEmpty)
      def batchDirs(out: String) = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(batchDirs(s"$base/out1") == batchDirs(s"$base/out2"))
      assert(batchDirs(s"$base/out1").size > 2,
        "must exercise multiple microbatches")
      assert(digest(s"$base/out1") == digest(s"$base/out2"),
        "recovered sink diverged from the uninterrupted run")
      assert(spark.read.parquet(s"$base/out1").count() == totalRows,
        "exactly-once: no loss, no duplication")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("q333 watermark planner equals a replay; drop curve is monotone and hits zero past the plant bound") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val arr = ev.map { case (id, t) =>
      (id, t, t + (if (id % 17 == 0) (id % 7 + 1) * 60000000L else 0L))
    }.sortBy { case (id, _, a) => (a, id) }
    var hi = Long.MinValue
    val lts = arr.map { case (_, t, _) =>
      val lt = if (hi == Long.MinValue || hi <= t) 0L else hi - t
      if (t > hi) hi = t
      lt
    }
    val want = Seq(0L, 60L, 120L, 300L, 600L).map { d =>
      (d, lts.length.toLong, lts.count(_ > 0L).toLong,
        lts.count(_ > d * 1000000L).toLong)
    }.map { case (d, n, nl, nd) => (d, n, nl, nd, nd * 1000000L / n) }
    val got = graft.streaming.EventStream
      .watermarkDelayPlanner(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // the plant produces genuine stragglers, the drop curve is
    // monotone non-increasing in the delay, and a delay past the
    // plant's own 7-minute bound drops nothing — the number the
    // planner exists to find
    assert(got.head._3 > 0L)
    val drops = got.map(_._4)
    assert(drops.zip(drops.tail).forall { case (a, b) => b <= a })
    assert(drops.last == 0L)
  }
}
