package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def sf: String = SparkTestSession.sf

  test("broadcast join plan actually broadcasts the dimension side") {
    val plan = Relational.joinBroadcast(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("semi + anti join partition the customer set") {
    // joinAnti's predicate is "no order above 400k" — its semi
    // complement must use the same filtered order subset
    val total = graft.sources.Tables.load(spark, sf, "customer").count()
    val withBigOrders = graft.sources.Tables.load(spark, sf, "customer")
      .join(graft.sources.Tables.load(spark, sf, "orders")
          .filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    val without = Relational.joinAnti(spark, sf).count()
    assert(withBigOrders + without == total)
    assert(without > 0, "anti side must be non-vacuous on the fixture")
  }

  test("window top-per-key returns at most 2 rows per customer, ranked") {
    val rows = Relational.windowTopPerKey(spark, sf).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.length <= 2)
      val sorted = g.sortBy(_.getInt(3))
      if (sorted.length == 2)
        assert(sorted(0).getDouble(2) >= sorted(1).getDouble(2))
    }
  }

  test("rollup emits group, subtotal and grand-total rows") {
    val rows = Relational.rollupAgg(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val leaf = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val subtotal = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(leaf.nonEmpty && subtotal.nonEmpty)
    // subtotals sum to grand total (counts are exact)
    assert(subtotal.map(_.getLong(3)).sum == grand.head.getLong(3))
  }

  test("cube emits all four grouping-set families; counts reconcile") {
    val rows = Relational.cubeAgg(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val byFlag = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    val byStatus = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
    val leaf = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(byFlag.nonEmpty && byStatus.nonEmpty && leaf.nonEmpty)
    assert(byFlag.map(_.getLong(3)).sum == grand.head.getLong(3))
    assert(byStatus.map(_.getLong(3)).sum == grand.head.getLong(3))
    assert(leaf.map(_.getLong(3)).sum == grand.head.getLong(3))
  }

  test("json extraction buckets cover the props key range; counts reconcile") {
    val rows = Relational.jsonProps(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total == graft.sources.Tables.load(spark, sf, "events").count())
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 10))
  }

  test("as-of join picks the most recent PRIOR click, never a later one") {
    val rows = Relational.asofJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getTimestamp(3).getTime <= r.getTimestamp(2).getTime,
        "as-of must not look into the future")
    }
    // cross-check one user end-to-end against a driver-side replay
    val uid = rows.head.getLong(1)
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("user_id") === uid)
      .select("event_id", "ts", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
      .sortBy(e => (e._2.getTime, e._1))
    var lastClick: Option[java.sql.Timestamp] = None
    val expected = scala.collection.mutable.Map[Long, Option[java.sql.Timestamp]]()
    evs.foreach { case (id, ts, typ) =>
      if (typ == "purchase") expected(id) = lastClick
      if (typ == "click") lastClick = Some(ts)
    }
    rows.filter(_.getLong(1) == uid).foreach { r =>
      val got = if (r.isNullAt(3)) None else Some(r.getTimestamp(3))
      assert(got == expected(r.getLong(0)), s"event ${r.getLong(0)}")
    }
  }

  test("interval join equals the naive theta join and plans as an equi hash join") {
    val df = Relational.intervalJoin(spark, sf)

    // the whole point of the bin rewrite: Catalyst gets an equi-key,
    // so the plan must NOT degenerate to a nested-loop probe
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan)

    // naive twin: pure range-predicate join, no bins
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val w = ev.filter(col("user_id") % 13 === 0)
      .groupBy(col("user_id").as("owner_id"))
      .agg(min(col("ts")).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 2 HOURS"))
    val truth = ev.join(w, col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("owner_id"), col("w_start"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val got = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    assert(got == truth)
    assert(got.nonEmpty, "fixture must contain owner windows with events")
  }

  test("rolling window equals the time-band self-join truth, one row per event") {
    val df = Relational.rollingWindow(spark, sf)
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    // quadratic truth, fine at sf0.001: events joined to all same-user
    // events within the trailing hour
    val truth = ev.as("a")
      .join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.us") >= col("a.us") - 3600000000L && col("b.us") <= col("a.us"))
      .groupBy(col("a.event_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == truth)
    assert(got.size == ev.count())
    // every frame contains at least its own row
    assert(got.values.forall(_ >= 1))
  }

  test("table diff classifies added/removed/changed exactly by the planted mutations") {
    val byChange = Relational.tableDiff(spark, sf).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(0)).toSet).toMap
    val ids = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(byChange("removed") == ids.filter(_ % 101 == 0))
    assert(byChange("added") == ids.filter(_ % 103 == 0).map(_ + 10000000L))
    // changed = value bumped (%7) minus rows that were dropped (%101)
    assert(byChange("changed") == ids.filter(i => i % 7 == 0 && i % 101 != 0))
  }

  test("scd2 merge: per-key row shapes match the planted mutations; one join total") {
    val df = Relational.scd2Merge(spark, sf)
    val rows = df.collect()
    val byKey = rows.groupBy(_.getLong(0))
    val keys = graft.sources.Tables.load(spark, sf, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    keys.foreach { k =>
      val mine = byKey(k).map(r => (r.getDate(3).toString,
        Option(r.getDate(4)).map(_.toString), r.getBoolean(5))).toSet
      if (k % 101 == 0)
        // deleted: single closed row
        assert(mine == Set(("2020-01-01", Some("2021-01-01"), false)), s"key $k")
      else if (k % 7 == 0)
        // changed: closed old version + open new version
        assert(mine == Set(
          ("2020-01-01", Some("2021-01-01"), false),
          ("2021-01-01", None, true)), s"key $k")
      else
        // unchanged: open row carried forward
        assert(mine == Set(("2020-01-01", None, true)), s"key $k")
    }
    // inserts (%103 re-keyed) open at the as-of date
    keys.filter(_ % 103 == 0).foreach { k =>
      val ins = byKey(k + 1000000L)
      assert(ins.length == 1 && ins.head.getBoolean(5)
        && ins.head.getDate(3).toString == "2021-01-01", s"insert $k")
    }
    // the scale contract: the whole merge is ONE join (one key
    // shuffle), not one join per output branch
    // AQE prints Final + Initial plans; count joins in the final only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nJoins = "MergeJoin|HashJoin".r.findAllIn(plan).length
    assert(nJoins == 1, s"expected exactly 1 join, got $nJoins in:\n$plan")
  }

  test("column profile: stats match the planted nulls and table cardinality") {
    val rows = Relational.profileTable(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size == 6)
    val orders = graft.sources.Tables.load(spark, sf, "orders")
    val n = orders.count()
    val keys = orders.select(col("o_orderkey")).collect().map(_.getLong(0))
    // injected nulls counted exactly; key column fully dense + unique
    assert(rows("o_orderstatus").getLong(1) == keys.count(_ % 97 == 0))
    assert(rows("o_totalprice").getLong(1) == keys.count(_ % 89 == 0))
    assert(rows("o_orderkey").getLong(1) == 0L)
    assert(rows("o_orderkey").getLong(2) == n)
    assert(rows("o_orderkey").getString(3).toLong == keys.min)
    assert(rows("o_orderkey").getString(4).toLong == keys.max)
  }

  test("funnel: one exchange total; step times form a windowed chain") {
    val df = Relational.funnel(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val stepUs = 48L * 3600L * 1000000L
    rows.foreach { r =>
      val Seq(t1, t2, t3) = Seq(1, 2, 3).map(i =>
        Option(r.getTimestamp(i)).map(ts =>
          ts.getTime / 1000 * 1000000 + ts.getNanos / 1000))
      val steps = r.getLong(4)
      // steps counts the unbroken prefix
      assert(steps == Seq(t1, t2, t3).takeWhile(_.isDefined).length)
      for (a <- t1; b <- t2) assert(b > a && b <= a + stepUs)
      for (b <- t2; c <- t3) assert(c > b && c <= b + stepUs)
    }
    // the whole funnel (2 window passes + final agg) is ONE shuffle
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"expected 1 exchange, got $nEx in:\n$plan")
  }

  test("cohort retention: offset-0 cell is the cohort peak; offsets nonnegative") {
    val cells = Relational.cohortRetention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(cells.nonEmpty)
    assert(cells.forall(_._2 >= 0))
    // every user purchases in their cohort week by construction, so
    // the offset-0 cell counts the whole cohort and no later offset
    // in that cohort exceeds it
    cells.groupBy(_._1).foreach { case (_, rows) =>
      val at0 = rows.find(_._2 == 0L).map(_._3)
      assert(at0.isDefined)
      assert(rows.forall(_._3 <= at0.get))
    }
    // cohorts partition the purchasing users: offset-0 cells sum to
    // the distinct purchaser count
    val purchasers = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(cells.filter(_._2 == 0L).map(_._3).sum == purchasers)
  }

  test("point-in-time join: each order sees the version valid on its date") {
    val df = Relational.pointInTimeJoin(spark, sf)
    val rows = df.collect()
    val segs = graft.sources.Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val asOf = java.sql.Date.valueOf("1998-06-01")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, d, seg) = (r.getLong(1), r.getDate(2), r.getString(3))
      val after = !d.before(asOf)
      if (k % 101 == 0)
        // deleted key: original segment until the delete, absent after
        assert(if (after) seg == null else seg == segs(k), s"$k $d $seg")
      else if (k % 7 == 0)
        // changed key: original before the change, CHANGED after
        assert(seg == (if (after) "CHANGED" else segs(k)), s"$k $d $seg")
      else
        // unchanged key: one open version over the whole range
        assert(seg == segs(k), s"$k $d $seg")
    }
    // no interval-containment fallback: the range predicate must not
    // plan as a nested-loop join
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to nested loop:\n$plan")
  }

  test("cdc replay: final state is the chronologically last change; no per-key sort") {
    val df = Relational.cdcReplay(spark, sf)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(4), r.getLong(5)))
      .toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) as us", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    ev.groupBy(_._1).foreach { case (u, rows) =>
      val last = rows.maxBy(r => (r._2, r._3))
      val wantOp = last._4 match {
        case "error" => "D"; case "signup" => "I"; case _ => "U"
      }
      assert(got(u)._1 == wantOp && got(u)._2 == (wantOp != "D")
        && got(u)._3 == rows.length, s"user $u")
    }
    // last-writer-wins must reduce BEFORE the shuffle: partial_max_by
    // below the exchange (one candidate per key per partition rides
    // the wire), and no Window (the full-log-shuffling formulation)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchangeAt = plan.indexOf("Exchange hashpartitioning")
    val partialAt = plan.indexOf("partial_max_by")
    assert(partialAt > exchangeAt && exchangeAt > 0,
      s"no partial max_by below the exchange in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("ohlc bars follow the (ts,event_id) order; aggregate stays partial, no window") {
    val df = Relational.ohlcBars(spark, sf)
    val got = df.collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
      ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6)))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "unix_micros(ts) as us", "event_id", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val truth = ev.groupBy(r => (r._1, r._2 / 300000000L))
    assert(got.size == truth.size)
    truth.foreach { case ((t, b), rows) =>
      val (o, h, l, c, n) = got((t, new java.sql.Timestamp(b * 300000L)))
      assert(n == rows.length && h == rows.map(_._4).max
        && l == rows.map(_._4).min, s"bar ($t,$b)")
      assert(o == rows.minBy(r => (r._2, r._3))._4, s"open ($t,$b)")
      assert(c == rows.maxBy(r => (r._2, r._3))._4, s"close ($t,$b)")
    }
    // the bar is ONE aggregate: partial min_by below the exchange and
    // no Window (the full-shuffle ROW_NUMBER formulation)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchangeAt = plan.indexOf("Exchange hashpartitioning")
    val partialAt = plan.indexOf("partial_min_by")
    assert(partialAt > exchangeAt && exchangeAt > 0,
      s"no partial min_by below the exchange in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("skyline equals the naive all-pairs dominance check") {
    val got = Relational.skyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2)))
      .toSet
    val all = graft.sources.Tables.load(spark, sf, "orders")
      .selectExpr("o_orderkey", "cast(to_date(o_orderdate) as string) d",
        "o_totalprice")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = all.filter { case (_, d, p) =>
      !all.exists { case (_, d2, p2) =>
        d2 <= d && p2 >= p && (d2 < d || p2 > p)
      }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("skew report: Gini matches the independent sorted-index identity; facts collapse before ranking") {
    val df = Relational.skewReport(spark, sf)
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    ev.groupBy(_._1).foreach { case (t, rows) =>
      val counts = rows.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
        .sortBy { case (u, c) => (c, u) }.map(_._2)
      val n = counts.size.toLong
      val sc = counts.sum
      val ixc = counts.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      val gini = (2 * ixc - (n + 1) * sc).toDouble / (n * sc).toDouble
      assert(got(t) == ((n, sc, counts.max, gini)), s"type $t")
    }
    // the rank window must sort the AGGREGATED frame, not raw facts:
    // the per-key partial count sits BELOW the Window in the tree
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val windowAt = plan.indexOf("Window")
    val partialBelow = plan.indexOf("partial_count", windowAt)
    assert(windowAt > 0 && partialBelow > windowAt,
      s"window does not rank an aggregated frame in:\n$plan")
  }

  test("sql front door equals the DataFrame TPC-H Q3; temp views cleaned up") {
    val viaSql = Relational.sqlFrontdoor(spark, sf).collect().toSeq
    val viaDf = Relational.tpchQ3(spark, sf).collect().toSeq
    assert(viaSql == viaDf)
    assert(!spark.catalog.tableExists("lineitem") &&
      !spark.catalog.tableExists("orders") &&
      !spark.catalog.tableExists("customer"))
  }

  test("dq audit: fixtures are referentially clean; child row counts exact") {
    val rows = Relational.dqAudit(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.size == 7)
    def n(t: String) = graft.sources.Tables.load(spark, sf, t).count()
    assert(rows("lineitem.l_orderkey")._1 == n("lineitem"))
    assert(rows("orders.o_custkey")._1 == n("orders"))
    assert(rows("nation.n_regionkey")._1 == n("nation"))
    rows.foreach { case (fk, (_, orphanRows, orphanKeys)) =>
      assert(orphanRows == 0L && orphanKeys == 0L, s"orphans under $fk")
    }
  }

  test("histogram: arithmetic binning matches the width_bucket builtin; counts total") {
    val hist = Relational.histogram(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
    assert(hist.values.sum == ev.count())
    assert(hist.keys.forall(b => b >= 1 && b <= 21))
    // the portable floor arithmetic IS width_bucket's binning (the
    // builtin exists in Spark but not DuckDB, so the oracle uses the
    // arithmetic; this pins the two against each other)
    val mismatches = ev
      .crossJoin(broadcast(ev.agg(min(col("value")).as("lo"),
        max(col("value")).as("hi"))))
      .selectExpr(
        "cast(floor((value - lo) * 20 / (hi - lo)) + 1 as bigint) as a",
        "cast(width_bucket(value, lo, hi, 20) as bigint) as b")
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }

  test("transition matrix: rows are a proper distribution; totals conserve events") {
    val rows = Relational.transitionMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // per-from probabilities sum to 1 (within a few ulp of the exact sum)
    rows.groupBy(_._1).foreach { case (f, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-9, s"from=$f")
    }
    // transitions conserve rows: total = events minus one per user
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val users = ev.select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum == ev.count() - users)
  }

  test("interval coalescing matches an independent sweep; islands disjoint") {
    val got = Relational.coalesceIntervals(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime, r.getLong(4)))
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_id", "unix_micros(ts) as s",
        "unix_micros(ts) + (cast(floor(value) as long) % 120 + 1) * 60000000 as e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent line-sweep merge per user
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val islands = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var (s0, e0, n0) = (0L, Long.MinValue, 0L)
      sorted.foreach { case (_, _, s, e) =>
        if (n0 > 0 && s <= e0) { e0 = math.max(e0, e); n0 += 1 }
        else {
          if (n0 > 0) islands += ((s0, e0, n0))
          s0 = s; e0 = e; n0 = 1
        }
      }
      islands += ((s0, e0, n0))
      islands.zipWithIndex.map { case ((s, e, n), i) =>
        (u, (i + 1).toLong, s / 1000, e / 1000, n)
      }
    }.toSet
    assert(got.toSet == want)
    // islands are disjoint and ordered per user
    got.groupBy(_._1).foreach { case (_, g) =>
      g.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._3 > a._4)
        case _ =>
      }
    }
  }

  test("regex funcs: digits fully masked, extraction round-trips the key") {
    val rows = Relational.regexFuncs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getString(3).exists(_.isDigit), "masked must contain no digits")
      // the captured number IS the customer key (fixture name format)
      assert(r.getString(1).toLong == r.getLong(0))
      assert(r.getBoolean(4), "fixture names are zero-padded 9-digit keys")
      assert(r.getInt(5) >= 1) // split always yields at least one field
    }
  }

  test("array HOFs: l1 bounds, ordered top-3, positive-count within dimension") {
    val rows = Relational.arrayFuncs(spark, sf).collect()
    assert(rows.nonEmpty)
    val dim = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("size(embedding)").head().getInt(0)
    rows.foreach { r =>
      val (nPos, l1) = (r.getInt(1), r.getDouble(3))
      val (t1, t2, t3) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(nPos >= 0 && nPos <= dim)
      assert(t1 >= t2 && t2 >= t3)
      assert(l1 >= t1, "l1 of abs values dominates the max component")
      assert(r.getBoolean(2) == (t1 > 0.2), "has_big must agree with top1")
    }
  }

  test("correlated subqueries decorrelate to joins and agree with manual computation") {
    val df = Relational.correlatedSubqueries(spark, sf)
    // decorrelation proof: the physical plan is joins, not per-row
    // subquery execution
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalarSubquery"), plan)

    val orders = graft.sources.Tables.load(spark, sf, "orders")
    val counts = orders.groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val existsGate = orders.filter(col("o_totalprice") > 400000.0)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val notInGate = orders.filter(col("o_totalprice") > 480000.0)
      .select("o_custkey").collect().map(_.getLong(0)).toSet

    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(existsGate(c), s"customer $c fails the EXISTS gate")
      assert(!notInGate(c), s"customer $c should be NOT IN-excluded")
      assert(r.getLong(2) == counts(c), s"n_orders mismatch for $c")
    }
    // and the gates actually excluded someone
    assert(rows.length < counts.size)
  }

  test("sessionize splits on the idle gap and covers every event exactly once") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 1: events at 0, 10, 20 min (one session), then 120, 125
    // (second session); user 2: single event
    Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(10), 1L, "view", 1.0, "{}"),
      (3L, ts(20), 1L, "view", 1.0, "{}"),
      (4L, ts(120), 1L, "view", 1.0, "{}"),
      (5L, ts(125), 1L, "view", 1.0, "{}"),
      (6L, ts(7), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // nanos like fixture
      .write.mode("overwrite").parquet("/tmp/graft-sess-test/events.parquet")
    val sess = Relational.sessionize(spark, "/tmp/graft-sess-test", gapSeconds = 1800)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sess == Map((1L, 1L) -> 3L, (1L, 2L) -> 2L, (2L, 1L) -> 1L))
  }

  test("percentiles are ordered and bounded by the group's min/max") {
    val rows = Relational.percentiles(spark, sf).collect()
    assert(rows.length == 3) // three return flags
    rows.foreach { r =>
      val ps = (1 to 4).map(r.getDouble)
      assert(ps == ps.sorted, s"quantiles out of order: $ps")
      assert(ps.head >= 1.0 && ps.last <= 50.0) // l_quantity range
    }
  }

  test("bucketed tables join with NO shuffle exchange (co-located join)") {
    import graft.sinks.Sinks
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val o = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Sinks.writeBucketed(li, "li_bkt", "l_orderkey")
    Sinks.writeBucketed(o, "o_bkt", "o_orderkey")
    // hint forces sort-merge (broadcast would bypass bucketing at this
    // tiny SF); with equal bucket counts SMJ needs no exchange
    val joined = spark.table("li_bkt").hint("merge")
      .join(spark.table("o_bkt").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n$plan")
    // co-located result equals the shuffled join
    assert(joined.count() == li.join(o, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("salted join is row-identical to the plain join under a hot key") {
    import spark.implicits._
    // hot key: 90% of left rows share key 1
    val left = (0 until 1000).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 1L, s"payload_$i")).toDF("k", "payload")
    val right = (0L until 7L).map(k => (k, s"dim_$k")).toDF("rk", "dim")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "payload", "dim")
      .collect().map(_.toString).sorted.toSeq
    val salted = Relational.saltedJoin(left, right, "k", "rk", salts = 8)
      .select("k", "payload", "dim")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("session_window MERGES events exactly gapDuration apart (q73 oracle boundary)") {
    import spark.implicits._
    // pins the boundary the q73 oracle encodes: events at 00:00 and
    // 00:30 with a 30-min gap are ONE session (end 01:00) — so the
    // oracle's new-session condition must be gap > 30 min, not >=
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:30:00"))
      .toDF("event_id", "s")
      .select(col("event_id"), lit(7L).as("user_id"),
        col("s").cast("timestamp").as("ts"))
    val sessions = df
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("sw.end"), col("n")).collect()
    assert(sessions.length == 1, s"exact-gap events must merge: ${sessions.toSeq}")
    assert(sessions.head.getLong(1) == 2)
    assert(sessions.head.getTimestamp(0).toString.startsWith("2024-01-01 01:00"))
  }

  test("q95 nested parquet: schema pruning reduces the scan to the selected leaf") {
    // At 100 TB, selecting one struct leaf must not read the sibling
    // leaves — this pins spark.sql.optimizer.nestedSchemaPruning on
    // the exact layout the q95 lifecycle writes.
    val dir = java.nio.file.Files.createTempDirectory("graft_q95_spec").toString
    try {
      Relational.nestedOrders(spark, sf).write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      val plan = back.select(col("info.meta.prio"))
        .queryExecution.executedPlan.toString
      assert(plan.contains(
        "ReadSchema: struct<info:struct<meta:struct<prio:string>>>"),
        s"nested schema not pruned to the single leaf:\n$plan")
      assert(!plan.contains("price") && !plan.contains("tags"),
        s"pruned scan still mentions sibling columns:\n$plan")
      // and the map column prunes away the struct entirely
      val mapOnly = back.select(map_keys(col("tags")))
        .queryExecution.executedPlan.toString
      assert(mapOnly.contains("ReadSchema: struct<tags:map<string,string>>"),
        s"map-only select should scan only tags:\n$mapOnly")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("tpch q5: dimension snowflake broadcasts, region filter reaches its scan") {
    val df = Relational.tpchQ5(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"supplier/nation snowflake should broadcast into the fact:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)") || plan.contains("r_name = ASIA"),
      s"region filter should push into the region scan:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) > 0))
  }

  test("typed json parse: corrupt rows yield null fields, never failures") {
    val rows = Relational.jsonTyped(spark, sf).collect()
    val corrupt = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_id") % 97 === 0)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (et, nEvents, nParsed) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nEvents - nParsed == corrupt.getOrElse(et, 0L),
        s"$et: unparsed count must equal injected-corrupt count")
      assert(r.getString(4).matches("""\{"k":\d+\}"""),
        s"to_json must serialize {\"k\":N} with no spaces: ${r.getString(4)}")
    }
  }

  test("lateral top-k decorrelates to WindowGroupLimit, never per-row execution") {
    val df = Relational.lateralTopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"lateral LIMIT must become a bounded window, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"correlation must decorrelate to an equi-join:\n$plan")
    // row-identity with the window formulation it must decorrelate to
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val want = graft.sources.Tables.load(spark, sf, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .join(graft.sources.Tables.load(spark, sf, "customer")
          .filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("equi-depth bins: four balanced bands partitioning the rows, edges honored") {
    val rows = Relational.equidepthBins(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L))
    val total = rows.values.map(_._1).sum
    assert(total == graft.sources.Tables.load(spark, sf, "orders").count())
    // equi-DEPTH: each quartile band holds ~N/4 (exact up to ties at
    // the interpolated edges)
    rows.values.foreach { case (n, _, _) =>
      assert(math.abs(n - total / 4.0) <= total * 0.01,
        s"bin of $n rows is not a quartile of $total")
    }
    // bands are ordered and disjoint: each bin's max below the next's min
    (0L to 2L).foreach { b =>
      assert(rows(b)._3 < rows(b + 1)._2, s"bins $b and ${b + 1} overlap")
    }
  }

  test("densify: continuous spine, zero-filled gaps, counts match the sparse truth") {
    val rows = Relational.densifyDaily(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    val truth = graft.sources.Tables.load(spark, sf, "events")
      .where(col("value") > 200.0)
      .groupBy(to_date(col("ts")).as("day"), col("event_type")).count()
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    // every sparse cell appears with its exact count; everything else is 0
    truth.foreach { case (k, n) => assert(rows(k) == n, s"$k") }
    assert(rows.values.count(_ == 0L) == rows.size - truth.size)
    assert(rows.values.exists(_ == 0L),
      "the fixture must actually exercise the zero-fill path")
    // the spine is continuous: every (day, type) combination present
    val days = rows.keys.map(_._1).toSeq.sorted
    val types = rows.keys.map(_._2).toSet
    assert(rows.size == days.distinct.size * types.size)
    val d0 = java.time.LocalDate.parse(days.head)
    val d1 = java.time.LocalDate.parse(days.last)
    assert(days.distinct.size ==
      java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1)
  }

  test("geo join: cell blocking equals all-pairs; joins hash on the grid key") {
    val df = Relational.geoJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"grid key must make the join hashable:\n$plan")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("Cartesian"),
      s"a raw distance predicate would degenerate; the grid must not:\n$plan")
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute-force twin in plain Scala (same Math trig the JVM uses)
    val stores = graft.sources.Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey")).collect().map(_.getLong(0))
      .map(k => k -> ((k * 7919 % 1000).toDouble / 100.0 + 40.0,
        (k * 104729 % 2000).toDouble / 100.0))
    val pts = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id")).collect()
      .map(r => ((r.getLong(0) * 31 + r.getLong(1)) % 1000 / 100.0 + 40.0,
        (r.getLong(0) * 17 + r.getLong(1) * 3) % 2000 / 100.0))
    def hav(la1: Double, lo1: Double, la2: Double, lo2: Double): Long = {
      val dla = math.toRadians(la2 - la1) / 2
      val dlo = math.toRadians(lo2 - lo1) / 2
      val a = math.sin(dla) * math.sin(dla) +
        math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
          (math.sin(dlo) * math.sin(dlo))
      math.floor(math.asin(math.sqrt(a)) * 2.0 * 6371000.0).toLong
    }
    val expect = stores.flatMap { case (k, (sla, slo)) =>
      val ds = pts.map { case (ela, elo) => hav(sla, slo, ela, elo) }
        .filter(_ <= 100000L)
      if (ds.isEmpty) None else Some(k -> (ds.length.toLong, ds.min))
    }.toMap
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
  }

  test("try_* nulls exactly the injected hazards; strict forms throw on them") {
    val rows = Relational.tryArithmetic(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.isNullAt(2) == (id % 5 == 0), s"safe_div at $id")
      assert(r.isNullAt(3) == (id % 16 > 7), s"safe_add at $id")
      assert(r.isNullAt(4) == (id % 4 >= 2), s"safe_mul at $id")
      assert(r.isNullAt(5) == (id % 7 == 0), s"safe_cast at $id")
      assert(r.isNullAt(6) == (id % 3 + 1 == 3), s"safe_elem at $id")
    }
    // the strict twins throw on the same rows — the ANSI contract the
    // try_ family exists to absorb
    val ev = graft.sources.Tables.load(spark, sf, "events")
    assert(intercept[Exception] {
      ev.selectExpr("9223372036854775800L + event_id % 16").collect()
    } != null)
    assert(intercept[Exception] {
      ev.selectExpr(
        """cast(concat(cast(event_id % 100 as string),
           case when event_id % 7 = 0 then 'x' else '' end) as int)""")
        .collect()
    } != null)
  }

  test("bucket fingerprints: one mutated row flips exactly one bucket, XOR-recoverably") {
    val dir = "/tmp/graft-fp-spec"
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .orderBy(col("l_orderkey"), col("l_linenumber")).limit(2000)
      .localCheckpoint(true)
    li.write.mode("overwrite").parquet(s"$dir/v1/lineitem.parquet")
    // mutate ONE row's quantity
    val pk = li.select(col("l_orderkey"), col("l_linenumber")).head()
    val mutate = col("l_orderkey") === pk.getLong(0) &&
      col("l_linenumber") === pk.getInt(1)
    li.withColumn("l_quantity",
        when(mutate, col("l_quantity") + 1.0).otherwise(col("l_quantity")))
      .write.mode("overwrite").parquet(s"$dir/v2/lineitem.parquet")
    def fps(d: String) = Relational.bucketFingerprints(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (a, b) = (fps(s"$dir/v1"), fps(s"$dir/v2"))
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k, (n, _)) => b(k)._1 == n },
      "counts must be untouched by a value mutation")
    val diff = a.keySet.filter(k => a(k)._2 != b(k)._2)
    assert(diff.size == 1, s"exactly one bucket must differ, got $diff")
    // self-inverse recovery: single-row tables expose the raw row
    // hashes, and removing old + adding new maps v1's bucket to v2's
    li.where(mutate).write.mode("overwrite")
      .parquet(s"$dir/old1/lineitem.parquet")
    li.where(mutate).withColumn("l_quantity", col("l_quantity") + 1.0)
      .write.mode("overwrite").parquet(s"$dir/new1/lineitem.parquet")
    val oldH = fps(s"$dir/old1").values.head._2
    val newH = fps(s"$dir/new1").values.head._2
    val k = diff.head
    assert((a(k)._2 ^ oldH ^ newH) == b(k)._2,
      "bucket fp must update by XOR-ing the changed row in and out")
  }

  test("variant path: zero-shuffle plan; strict get throws where try yields null") {
    val df = Relational.variantPath(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"variant extraction is per-row; no shuffle expected:\n$plan")
    val r = df.orderBy(col("event_id")).limit(1).collect()(0)
    assert(r.getAs[Long]("k_typed") >= 0L)
    assert(r.isNullAt(r.fieldIndex("k_missing")), "missing path must be NULL")
    assert(r.isNullAt(r.fieldIndex("et_badnum")),
      "try_variant_get on a non-numeric string must be NULL")
    // the strict form of the same mismatched access throws — the
    // try/strict contrast is the pinned semantic
    val strict = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("variant_get(parse_json(props), '$.k', 'date') AS d")
    assert(intercept[Exception] { strict.collect() } != null)
  }

  test("forward fill carries the last prior observation; leading gaps stay null") {
    val rows = Relational.forwardFill(spark, sf).collect()
      .map(r => (r.getLong(1), r.getTimestamp(2).getTime, r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // replay LOCF per user in plain Scala over the same injected nulls
    val truth = graft.sources.Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(1), r.getTimestamp(2).getTime, r.getLong(0),
        if (r.getLong(0) % 7 == 0) None else Some(r.getDouble(3))))
      .groupBy(_._1).toSeq.flatMap { case (_, evs) =>
        var lastSeen: Option[Double] = None
        evs.sortBy(e => (e._2, e._3)).map { e =>
          if (e._4.isDefined) lastSeen = e._4
          (e._1, e._2, e._3, lastSeen)
        }.toSeq
      }.toSet
    assert(rows.toSet == truth)
    assert(rows.exists(_._4.isEmpty), "some leading gap must stay null")
    // injected nulls that have history really changed value
    assert(rows.exists(r => r._3 % 7 == 0 && r._4.isDefined))
  }

  test("union keeps duplicates (UNION ALL semantics)") {
    val o = graft.sources.Tables.load(spark, sf, "orders")
    val both = o.filter(col("o_orderstatus") === "F")
      .filter(col("o_totalprice") > 450000.0).count()
    val expected = o.filter(col("o_orderstatus") === "F").count() +
      o.filter(col("o_totalprice") > 450000.0).count()
    assert(Relational.unionScans(spark, sf).count() == expected)
    assert(both >= 0) // rows in both filters appear twice by design
  }

  test("sla audit: coverage, longest outage, and span are exact hour arithmetic") {
    import spark.implicits._
    // global span = hours 00..05 (6 expected bins); A covers 4 bins
    // with one 2-hour outage (02->05); B covers only hour 00
    val rows = Seq(
      (1L, 10L, "A", "2024-01-01 00:10:00", 1.0),
      (2L, 10L, "A", "2024-01-01 01:20:00", 1.0),
      (3L, 10L, "A", "2024-01-01 02:30:00", 1.0),
      (4L, 10L, "A", "2024-01-01 05:40:00", 1.0),
      (5L, 11L, "B", "2024-01-01 00:50:00", 1.0))
    rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-sla-test/events.parquet")
    val got = graft.operators.Relational
      .slaAudit(spark, "/tmp/graft-sla-test")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("A") == ((4L, 6L, 6666L, 2L)))
    assert(got("B") == ((1L, 6L, 1666L, 0L)))
  }

  test("decayed engagement: per-term quantization matches naive arithmetic") {
    import spark.implicits._
    // user 10: 2.00 today + 1.00 two days ago; user 11: 3.50 one day ago
    val rows = Seq(
      (1L, 10L, "view", "2024-01-03 10:00:00", 2.0),
      (2L, 10L, "view", "2024-01-01 09:00:00", 1.0),
      (3L, 11L, "click", "2024-01-02 08:00:00", 3.5))
    rows.toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-decay-test/events.parquet")
    val got = graft.operators.Relational
      .decayedEngagement(spark, "/tmp/graft-decay-test")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def wq(age: Int) = math.floor(1e6 * math.pow(0.9, age.toDouble)).toLong
    assert(got(10L) == ((2L, 200L * wq(0) + 100L * wq(2))))
    assert(got(11L) == ((1L, 350L * wq(1))))
  }

  test("mad anomaly: lower medians, spike flags, masking day does not") {
    import spark.implicits._
    // 5 quiet days (1.00-1.04 totals) + one 10x spike. Mean/stddev
    // would be dragged by the spike; MAD flags it cleanly.
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1.00), (2L, "2024-01-02 10:00:00", 1.01),
      (3L, "2024-01-03 10:00:00", 1.02), (4L, "2024-01-04 10:00:00", 1.03),
      (5L, "2024-01-05 10:00:00", 1.04), (6L, "2024-01-06 10:00:00", 10.0))
    rows.map { case (id, t, v) => (id, 1L, "view", t, v) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-mad-test/events.parquet")
    val got = graft.operators.Relational
      .madDailyAnomaly(spark, "/tmp/graft-mad-test")
      .collect()
      .map(r => (r.getDate(0).toString,
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))))
      .toMap
    // totals (cents): 100 101 102 103 104 1000; lower median of 6 =
    // rank 3 = 102; absdevs: 2 1 0 1 2 898 → lower median = 1
    assert(got("2024-01-03") == ((102L, 102L, 1L, 0L, false)))
    assert(got("2024-01-06") == ((1000L, 102L, 1L, 898L, true)))
    // 2-cent deviations sit inside the 3·MAD=3 band → quiet
    assert(!got("2024-01-01")._5 && !got("2024-01-05")._5)
    assert(got.values.count(_._5) == 1, "exactly the spike flags")
  }

  test("chi-square audit: symmetric 2x2 design, every cell contributes exactly 1.0") {
    import spark.implicits._
    // o: en/s1=6 en/s2=2 de/s1=2 de/s2=6 → e=4 everywhere,
    // d = o·16 − 8·8 = ±32 → contrib = 32²/(16·8·8) = 1.0
    val docs = (Seq.fill(6)(("en", "s1")) ++ Seq.fill(2)(("en", "s2")) ++
      Seq.fill(2)(("de", "s1")) ++ Seq.fill(6)(("de", "s2")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("doc_id", "lang", "source")
    val got = graft.operators.Relational.chiSquareAuditOn(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))
      .toMap
    assert(got.size == 4)
    assert(got(("en", "s1")) == ((6L, 8L, 8L, 16L, 1000000L)))
    assert(got(("de", "s2")) == ((6L, 8L, 8L, 16L, 1000000L)))
    assert(got(("en", "s2")) == ((2L, 8L, 8L, 16L, 1000000L)))
    assert(got(("de", "s1")) == ((2L, 8L, 8L, 16L, 1000000L)))
  }

  test("inter-arrival profile: exact micros, lower median/p90, singletons excluded") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "2024-01-01 00:00:00"), (2L, 10L, "2024-01-01 00:00:10"),
      (3L, 10L, "2024-01-01 00:00:30"), (4L, 10L, "2024-01-01 00:01:40"),
      (5L, 11L, "2024-01-01 00:00:00"))
    rows.map { case (id, u, t) => (id, u, "view", t, 1.0) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-gap-test/events.parquet")
    val got = graft.operators.Relational
      .interArrivalProfile(spark, "/tmp/graft-gap-test")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // gaps (s): 10, 20, 70 → n=3, med rank 2 → 20s, p90 rank 3 → 70s
    assert(got == Map(10L ->
      ((3L, 20L * 1000000L, 70L * 1000000L, 70L * 1000000L))))
  }

  test("wilson ctr: exact tree replay; thin evidence ranks below strong evidence") {
    import spark.implicits._
    // item 1: 1/1 (raw ctr 1.0, thin); item 2: 90/100 (raw 0.9, strong)
    val ev = (Seq.fill(1)((1L, "click")) ++
      Seq.fill(90)((2L, "click")) ++ Seq.fill(10)((2L, "view")))
      .zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, 1L, t, "2024-01-01 00:00:00", 1.0, s"""{"k": $k}""") }
    ev.toDF("event_id", "user_id", "event_type", "ts_s", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-wilson-test/events.parquet")
    val got = graft.operators.Relational
      .wilsonCtr(spark, "/tmp/graft-wilson-test")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getInt(5)))
      .toMap
    def wilson(c: Long, n: Long): Long = {
      val nd = n.toDouble; val p = c.toDouble / nd
      math.floor(1e6 * ((p + 3.8416 / (2.0 * nd) -
        1.96 * math.sqrt((p * (1.0 - p) + 3.8416 / (4.0 * nd)) / nd)) /
        (1.0 + 3.8416 / nd))).toLong
    }
    assert(got(1L) == ((1L, 1L, 1.0, wilson(1, 1), 2)))
    assert(got(2L) == ((90L, 100L, 0.9, wilson(90, 100), 1)))
    assert(got(2L)._4 > got(1L)._4,
      "90/100 must out-rank 1/1 despite the lower raw ctr")
  }

  test("conversion latency: cohorts by first click, pre-click purchases ignored") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "click", "2024-01-01 10:00:00"),
      (2L, 1L, "purchase", "2024-01-01 10:30:00"),     // gap 1800 s
      (3L, 2L, "click", "2024-01-01 09:00:00"),
      (4L, 2L, "purchase", "2024-01-02 09:00:00"),     // gap 86400 s
      (5L, 3L, "click", "2024-01-01 11:00:00"),        // never converts
      (6L, 4L, "purchase", "2024-01-01 08:00:00"),     // BEFORE the click
      (7L, 4L, "click", "2024-01-01 12:00:00"),
      (8L, 5L, "click", "2024-01-02 00:00:00"),
      (9L, 5L, "purchase", "2024-01-02 00:01:00"))     // gap 60 s
    rows.map { case (id, u, t, s) => (id, u, t, s, 1.0) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-convlat-test/events.parquet")
    val got = graft.operators.Relational
      .conversionLatency(spark, "/tmp/graft-convlat-test")
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))
      .toMap
    // d1 gaps sorted: [1800 s, 86400 s] → med rank 1, p90 rank 2
    assert(got("2024-01-01") ==
      ((4L, 2L, 0.5, 1800L * 1000000L, 86400L * 1000000L)))
    assert(got("2024-01-02") == ((1L, 1L, 1.0, 60000000L, 60000000L)))
  }

  test("stickiness: trailing-7-day distinct users, exact ratio") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), (2L, 2L, "2024-01-01 11:00:00"),
      (3L, 2L, "2024-01-02 10:00:00"), (4L, 3L, "2024-01-09 10:00:00"))
    rows.map { case (id, u, s) => (id, u, "view", s, 1.0) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-stick-test/events.parquet")
    val got = graft.operators.Relational
      .stickiness(spark, "/tmp/graft-stick-test")
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      "2024-01-01" -> ((2L, 2L, 1.0)),   // both users new that day
      "2024-01-02" -> ((1L, 2L, 0.5)),   // user 1 in window, inactive
      "2024-01-09" -> ((1L, 1L, 1.0)))) // old users aged out
  }

  test("watermark planner: chunked prefix max equals naive lateness, buckets exact") {
    import spark.implicits._
    // arrival order 1..6; event times crafted so lateness hits four
    // different buckets; chunk=2 forces cross-chunk prefix handoffs
    val secs = Seq(
      (1L, 1000L), (2L, 995L),            // late 5 s  → le_1m
      (3L, 2000L), (4L, 2000L - 7200L),   // late 2 h  → le_1d
      (5L, 2100L), (6L, 2100L - 1800L))   // late 30 m → le_1h
    secs.map { case (id, s) => (id, 1L, "view", s, 1.0) }
      .toDF("event_id", "user_id", "event_type", "t_s", "value")
      .withColumn("ts", expr("timestamp_seconds(t_s)")).drop("t_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-wm-test/events.parquet")
    val got = graft.operators.Relational
      .watermarkPlanner(spark, "/tmp/graft-wm-test", chunk = 2)
      .collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(got == Map(
      "on_time" -> ((3L, 3L, 5000L, false)),
      "le_1m" -> ((1L, 4L, 6666L, false)),
      "le_1h" -> ((1L, 5L, 8333L, false)),
      "le_1d" -> ((1L, 6L, 10000L, true))))
  }

  test("bootstrap ci: full md5-draw replay, bounds are lower order statistics") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1.00), (2L, "2024-01-02 10:00:00", 2.00),
      (3L, "2024-01-03 10:00:00", 3.00), (4L, "2024-01-04 10:00:00", 40.00))
    rows.map { case (id, t, v) => (id, 1L, "purchase", t, v) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-boot-test/events.parquet")
    val r = graft.operators.Relational
      .bootstrapCi(spark, "/tmp/graft-boot-test").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4600L)
    // replay: totals in day order, md5 draws mod 4, 200 resample
    // sums, lower order statistics at ranks 5 and 195
    val totals = Array(100L, 200L, 300L, 4000L)
    def u60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val sums = (0 until 200).map { b =>
      (b, (0 until 4).map(i => totals((u60(s"boot:$b:$i") % 4).toInt)).sum)
    }
    val ordered = sums.sortBy { case (b, s) => (s, b) }.map(_._2)
    assert(r.getLong(3) == ordered(4) && r.getLong(4) == ordered(194))
    assert(r.getLong(3) < r.getLong(4), "the spike day spreads the CI")
  }

  test("theil-sen: pairwise-slope replay; the spike day cannot drag the median") {
    import spark.implicits._
    // clean +100/day trend, then a 1000x final day: OLS would report
    // a huge slope; the slope median stays on the trend
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1.00), (2L, "2024-01-02 10:00:00", 2.00),
      (3L, "2024-01-03 10:00:00", 3.00), (4L, "2024-01-04 10:00:00", 4.00),
      (5L, "2024-01-05 10:00:00", 1000.00))
    rows.map { case (id, t, v) => (id, 1L, "purchase", t, v) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-ts-test/events.parquet")
    val r = graft.operators.Relational
      .theilSenTrend(spark, "/tmp/graft-ts-test").head()
    val ys = Array(100L, 200L, 300L, 400L, 100000L)
    val slopes = (for {
      i <- 0 until 5; j <- (i + 1) until 5
    } yield (i, j, math.floor(
      1e6 * ((ys(j) - ys(i)).toDouble / (j - i).toDouble)).toLong))
    val med = slopes.sortBy { case (i, j, s) => (s, i.toLong, j.toLong) }
      .apply((slopes.size + 1) / 2 - 1)._3
    assert(r.getLong(0) == 5L && r.getLong(2) == 10L)
    assert(r.getLong(3) == med)
    // the median slope sits on the clean trend, far below the spike
    assert(r.getLong(3) == 100000000L, s"got ${r.getLong(3)}")
  }

  test("holt forecast: exact half-step recursion, floor on the odd trend") {
    import spark.implicits._
    // 100, 200, 300, then a drop to 50:
    //   init (100, 100); y=200 → (200, 100); y=300 → (300, 100);
    //   y=50 → lvl = ⌊450/2⌋ = 225, tr = ⌊(225−300+100)/2⌋ = ⌊12.5⌋ = 12
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1.00), (2L, "2024-01-02 10:00:00", 2.00),
      (3L, "2024-01-03 10:00:00", 3.00), (4L, "2024-01-04 10:00:00", 0.50))
    rows.map { case (id, t, v) => (id, 1L, "purchase", t, v) }
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite")
      .parquet("/tmp/graft-holt-test/events.parquet")
    val got = graft.operators.Relational
      .holtForecast(spark, "/tmp/graft-holt-test")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDate(1).toString, r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
      .toMap
    assert(got.size == 7)
    (1 to 7).foreach { h =>
      assert(got(h.toLong) ==
        ((f"2024-01-${4 + h}%02d", 4L, 225L, 12L, 225L + 12L * h)),
        s"h=$h")
    }
  }

  test("cusum changepoint: naive replay, single argmax flag, telescoping tail") {
    val spark = SparkTestSession.spark
    val rows = graft.operators.Relational
      .cusumChangepoint(spark, SparkTestSession.sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
      .sortBy(_._1.toEpochDay)
    assert(rows.nonEmpty)
    assert(rows.count(_._4) == 1, "exactly one changepoint")
    val n = rows.length.toLong
    val tot = rows.map(_._2).sum
    val mean = tot / n
    var run = 0L
    rows.foreach { case (_, y, cs, _) =>
      run += y - mean
      assert(cs == run)
    }
    // telescoping: final cusum = tot - n*mean = tot mod n remainder
    assert(rows.last._3 == tot - n * mean)
    val maxAbs = rows.map(r => math.abs(r._3)).max
    val firstArg = rows.find(r => math.abs(r._3) == maxAbs).get
    assert(firstArg._4, "changepoint must be the earliest max-|cusum| day")
  }

  test("join discovery: every declared FK edge resurfaces from values alone (q243)") {
    val spark = SparkTestSession.spark
    val got = graft.operators.Relational
      .joinDiscovery(spark, SparkTestSession.sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    // the q128 audit's declared FK edges, rediscovered without
    // declarations — each at (near-)total containment
    val fks = Seq(
      "orders.o_custkey" -> "customer.c_custkey",
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "lineitem.l_partkey" -> "part.p_partkey",
      "lineitem.l_suppkey" -> "supplier.s_suppkey",
      "customer.c_nationkey" -> "nation.n_nationkey",
      "supplier.s_nationkey" -> "nation.n_nationkey",
      "nation.n_regionkey" -> "region.r_regionkey")
    fks.foreach { e =>
      assert(got.contains(e), s"FK edge $e not discovered")
      assert(got(e) >= 900000L, s"FK edge $e below containment: ${got(e)}")
    }
    // discovery noise is real and expected: the dense 1..50 p_size
    // domain sits inside at least one key column
    assert(got.keys.exists(_._1 == "part.p_size"),
      "expected value-overlap false positives are absent")
  }

  test("q272 prefix rollup: every depth level re-partitions the full object set") {
    val sf = "/root/testdata/sf0.01"
    val rows = Relational.prefixRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val parts = spark.read.parquet(s"$sf/part.parquet")
    val nParts = parts.count()
    val totalCents = parts
      .select(sum(floor(col("p_retailprice") * 100.0 + 0.5).cast("long")))
      .head().getLong(0)
    // every object lives under exactly one prefix per depth, so each
    // depth level's counts and sizes sum to the whole corpus
    for (d <- 1L to 3L) {
      val level = rows.filter(_._2 == d)
      assert(level.map(_._3).sum == nParts, s"depth $d object count")
      assert(level.map(_._4).sum == totalCents, s"depth $d size")
    }
    // trie law: a parent's totals equal the sum of its children
    rows.filter(_._2 < 3).foreach { case (p, d, n, cents) =>
      val children = rows.filter(r =>
        r._2 == d + 1 && r._1.substring(0, r._1.lastIndexOf('/')) == p)
      assert(children.map(_._3).sum == n, s"$p child counts")
      assert(children.map(_._4).sum == cents, s"$p child sizes")
    }
  }

  test("q295 forecast backtest: per-series Holt-vs-naive SAEs equal a replay; both winners occur or verdicts differ") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "CAST(ts AS DATE) AS day")
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val series = ev.groupBy(_._1).map { case (t, g) =>
      t -> g.groupBy(_._2).map { case (d, gg) => (d, gg.length.toLong) }
        .toSeq.sortBy(_._1.toEpochDay).map(_._2)
    }
    def half(x: Long): Long = math.floor(x.toDouble / 2.0).toLong
    val want = series.filter(_._2.length >= 16).map { case (t, ys) =>
      val n = ys.length; val m = n - 7
      var lvl = ys(0); var tr = ys(1) - ys(0)
      for (i <- 1 until m) { // consume ys(1)..ys(m-1) (0-based)
        val l2 = half(ys(i) + lvl + tr)
        tr = half(l2 - lvl + tr); lvl = l2
      }
      val saeH = (1 to 7).map(h =>
        math.abs(lvl + h * tr - ys(m + h - 1))).sum
      val saeN = (1 to 7).map(h =>
        math.abs(ys(m + h - 8) - ys(m + h - 1))).sum
      val w = if (saeH < saeN) "holt" else if (saeH > saeN) "naive"
        else "tie"
      (t, n.toLong, saeH, saeN, w)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Relational.forecastBacktest(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1)
    assert(got.toSeq == want)
    assert(got.nonEmpty)
    // the harness discriminates: SAEs differ somewhere
    assert(got.exists(r => r._3 != r._4))
  }

  test("q294 bitemporal: believed state per cut equals a replay; restatements and late recordings visible") {
    val hist = graft.operators.Relational
      .scd2Merge(spark, sf, "1995-01-01", "1996-06-01")
      .select(col("c_custkey"), col("valid_from"), col("c_mktsegment"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2)))
    val reg = hist.flatMap { case (k, vf, seg) =>
      val base = (k, vf, vf.plusDays(k % 3), seg)
      if (k % 7 == 0) Seq(base, (k, vf, vf.plusDays(10), seg + "*"))
      else Seq(base)
    }
    val v = java.time.LocalDate.parse("1996-12-31")
    def believed(t: String): Map[Long, String] = {
      val cut = java.time.LocalDate.parse(t)
      reg.filter(r => !r._2.isAfter(v) && !r._3.isAfter(cut))
        .groupBy(_._1).map { case (k, g) =>
          k -> g.maxBy(r => (r._2.toEpochDay, r._3.toEpochDay))._4 }
    }
    val b1 = believed("1996-06-01"); val b2 = believed("1999-01-01")
    val want = b2.toSeq.map { case (k, s2) =>
      val s1 = b1.get(k)
      (k, s1.orNull, s2, s1.exists(_ != s2))
    }.sortBy(_._1)
    val got = graft.operators.Relational.bitemporalAsOf(spark, sf)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2), r.getBoolean(3))).sortBy(_._1)
    assert(got.toSeq == want)
    assert(got.exists(_._4), "a restatement must change the view between cuts")
    assert(got.exists(_._2 == null), "a late-recorded key must be absent at T1")
    assert(got.exists(_._3.endsWith("*")), "corrections must win at T2")
  }

  test("q293 TWAP equals a segment-integral replay and diverges from the plain mean on bursty groups") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "CAST(ts AS DATE) AS day",
        "unix_micros(ts) AS us", "event_id",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = ev.groupBy(e => (e._1, e._2)).map { case ((t, d), g) =>
      val s = g.sortBy(e => (e._3, e._4))
      val dur = s.last._3 - s.head._3
      val twap =
        if (dur == 0L) s.minBy(_._4)._5
        else (s.zip(s.tail).map { case (a, b) =>
          BigInt(a._5) * (b._3 - a._3) }.sum / dur).toLong
      (t, d, s.length.toLong, dur, twap)
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = graft.operators.Relational.twap(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
    // TWAP is not the plain mean somewhere (irregular spacing bites)
    val plain = ev.groupBy(e => (e._1, e._2)).map { case (k, g) =>
      k -> g.map(_._5).sum / g.length }
    assert(want.exists { case (t, d, _, _, tw) => plain((t, d)) != tw })
  }

  test("q292 concurrency timeline: sweep equals an interval-stabbing replay; overlap exists") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      val bounds = collection.mutable.ArrayBuffer[(Long, Long)]()
      var s = sorted.head._2; var e = sorted.head._2
      for (x <- sorted.tail) {
        if (x._2 - e > 1800000000L) { bounds += ((s, e)); s = x._2 }
        e = x._2
      }
      bounds += ((s, e))
      bounds
    }.toSeq
    val byDay = sessions.groupBy { case (s, _) =>
      java.time.Instant.ofEpochSecond(Math.floorDiv(s, 1000000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
    }
    // interval-stabbing replay: peak = max over start instants of
    // the number of sessions containing that instant (a sweep peak
    // is always attained at some arrival)
    val want = byDay.map { case (day, ss) =>
      val peak = ss.map { case (s, _) =>
        ss.count { case (s2, e2) => s2 <= s && s <= e2 } }.max
      (day.toString, ss.size.toLong, peak.toLong)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Relational.concurrencyTimeline(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == want)
    assert(got.exists(_._3 > 1L), "fixture must exhibit real overlap")
  }

  test("q281 relational division: count-matching form equals a set replay; both populations non-trivial") {
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val divisor = ords.map(_._2).distinct.toSet
    val byCust = ords.distinct.groupBy(_._1)
      .map { case (k, g) => (k, g.map(_._2).toSet) }
    val segs = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = byCust.toSeq
      .map { case (k, ps) => (segs(k), ps == divisor) }
      .groupBy(_._1)
      .map { case (s, g) => (s, g.size.toLong, g.count(_._2).toLong) }
      .toSeq.sortBy(_._1)
    val got = graft.operators.Relational.relationalDivision(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == expect)
    // division is only interesting when some buyers are complete and
    // some are not
    assert(got.map(_._3).sum > 0 && got.map(_._3).sum < got.map(_._2).sum)
  }

  test("q280 LPM join matches a per-part driver replay; default route carries real misses") {
    def h(prefix: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("route:" + prefix).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), lower(col("p_type")).as("t"), col("p_name"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0),
        (r.getString(1) +: r.getString(2).split(" ").toSeq),
        r.getLong(3)))
    val allPrefixes = parts.flatMap { case (_, segs, _) =>
      (1 to segs.length).map(d => segs.take(d).mkString("/")) }.distinct
    val dim = allPrefixes.filter { p =>
      val depth = p.count(_ == '/') + 1
      val hv = h(p)
      (depth == 1 && hv % 2 == 0) || (depth == 2 && hv % 3 == 0) ||
        (depth >= 3 && hv % 7 == 0)
    }.toSet
    val expect = parts.map { case (_, segs, cents) =>
      val matches = (1 to segs.length).map(d => segs.take(d).mkString("/"))
        .filter(dim.contains)
      if (matches.isEmpty) (("(default)", 0L), cents)
      else ((matches.last, matches.last.count(_ == '/') + 1L), cents)
    }.groupBy(_._1).map { case ((route, depth), g) =>
      (route, depth, g.length.toLong, g.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val got = graft.operators.Relational.longestPrefixMatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == expect)
    assert(got.exists(_._1 == "(default)"),
      "the md5-mod carve must leave genuine misses for the LEFT path")
    assert(got.map(_._3).sum == parts.length.toLong)
    assert(got.filter(_._1 != "(default)").map(_._2).distinct.size > 1,
      "longest-match depth must genuinely vary")
  }

  test("chunkedRowNumber is output-identical to the naive global window") {
    // the q202-device generalization q303/q304 rank through: bucket =
    // a PREFIX of the sort order -> same ranks as the one-partition
    // row_number, for both a hash-prefix bucket (string) and a
    // fixed-width numeric bucket, including heavy ties
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars"))
    val salt = md5(concat(lit("crn:"), col("doc_id").cast("string")))
    val byHash = graft.operators.Relational.chunkedRowNumber(
        docs, substring(salt, 1, 2), Seq(salt.asc, col("doc_id").asc))
      .select(col("doc_id"), col("rk"))
    val naiveHash = docs.withColumn("rk",
        row_number().over(Window.orderBy(salt.asc, col("doc_id").asc))
          .cast("long"))
      .select(col("doc_id"), col("rk"))
    assert(byHash.except(naiveHash).isEmpty && naiveHash.except(byHash).isEmpty)
    val byLen = graft.operators.Relational.chunkedRowNumber(
        docs, floor(col("n_chars") / lit(16)).cast("long"),
        Seq(col("n_chars").asc, col("doc_id").asc))
      .select(col("doc_id"), col("rk"))
    val naiveLen = docs.withColumn("rk",
        row_number().over(
          Window.orderBy(col("n_chars").asc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rk"))
    assert(byLen.except(naiveLen).isEmpty && naiveLen.except(byLen).isEmpty)
    // ranks are a contiguous 1..N permutation
    val n = docs.count()
    assert(byLen.agg(min(col("rk")), max(col("rk")),
      count_distinct(col("rk"))).head().toSeq == Seq(1L, n, n))
    // and the plan carries NO partition-less window (the warning the
    // round-13 verdict flagged fires from WindowExec on an empty
    // partitionSpec; the helper's windows are all bucket-partitioned)
    val plan = byHash.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(__bk"), plan.take(2000))
  }

  test("chunkedPrefixSum is output-identical to the naive exclusive-sum window") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("v"))
    val chunked = graft.operators.Relational.chunkedPrefixSum(
        docs, floor(col("doc_id") / lit(64)).cast("long"),
        Seq(col("doc_id").asc), col("v"))
      .select(col("doc_id"), col("psum"))
    val naive = docs.withColumn("psum",
        coalesce(sum(col("v")).over(Window.orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1L)), lit(0L))
          .cast("long"))
      .select(col("doc_id"), col("psum"))
    assert(chunked.except(naive).isEmpty && naive.except(chunked).isEmpty)
    // first row starts at 0; the final exclusive sum + its value =
    // the corpus total
    val total = docs.agg(sum(col("v"))).head().getLong(0)
    val rows = chunked.join(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.head._2 == 0L)
    assert(rows.last._2 + rows.last._3 == total)
  }

  test("chunkedPrefixMax is output-identical to the naive global running-max window") {
    import spark.implicits._
    // adversarial layout: duplicate order keys, negative values, and
    // bucket boundaries that split runs of equal keys
    val rows = Seq(
      (1L, 5L), (2L, -3L), (2L, 9L), (3L, 1L), (7L, 2L), (8L, 9L),
      (9L, -1L), (15L, 4L), (16L, 20L), (17L, 3L), (31L, 7L), (32L, 0L)
    ).zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
    val df = rows.toDF("row_id", "k", "v")
    val got = Relational.chunkedPrefixMax(df,
      bucket = Relational.rangeBucket(col("k"), 8L),
      order = Seq(col("k").asc, col("row_id").asc),
      value = col("v"), out = "pm")
      .select(col("row_id"), col("pm")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    val naive = df.withColumn("pm",
      max(col("v")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("k").asc, col("row_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1L)))
      .select(col("row_id"), col("pm")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got == naive)
    assert(got(0L).isEmpty, "global first row must be NULL (empty frame)")
  }

  test("rangeBucket is exact past 2^53 where double division would cross a bucket boundary") {
    import spark.implicits._
    // x = 2^53 + 3 rounds UP to 2^53 + 4 as a double, so
    // floor(x / 2.0) reads 4503599627370498 — one bucket PAST the
    // exact quotient 4503599627370497 (the latent corruption the
    // round-15 advice flagged); IntegralDivide must stay exact
    val x = (1L << 53) + 3L
    val got = Seq(x).toDF("k")
      .select(Relational.rangeBucket(col("k"), 2L).as("b"))
      .head().getLong(0)
    assert(got == 4503599627370497L)
    assert(math.floor(x.toDouble / 2.0).toLong == 4503599627370498L,
      "the double path must actually disagree for this probe to prove anything")
    // descending variant: negated quotient, same exactness
    val gotD = Seq(x).toDF("k")
      .select(Relational.rangeBucket(col("k"), 2L, descending = true).as("b"))
      .head().getLong(0)
    assert(gotD == -4503599627370497L)
  }

  test("chunkedRowNumber raises loudly on a NULL bucket instead of dropping the row") {
    import spark.implicits._
    val df = Seq((1L, java.lang.Long.valueOf(5L)),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("id", "k")
    val e = intercept[Exception] {
      Relational.chunkedRowNumber(df, bucket = col("k"),
        order = Seq(col("k").asc, col("id").asc)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("bucket expression evaluated to NULL")),
      s"unexpected failure: $e")
  }

  test("q373 schema drift: planted add/drop/skip-a-day; fixture is drift-free") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // fixture payloads carry exactly {"k"} every day: baseline day 1,
    // kept everywhere after — the drift-free reading
    val fx = Relational.schemaDrift(spark, sf).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(5)))
    assert(fx.nonEmpty && fx.forall(_._2 == "k"))
    fx.foreach { case (rank, _, status) =>
      assert(status == (if (rank == 1L) "baseline" else "kept"))
    }
    // planted drift through the SAME core: key a lives days 1-2 then
    // drops; b appears day 2; c skips day 2 entirely — the dense grid
    // must read c as dropped-then-added, not as consecutive presence
    def ev(day: Int, props: String) = (
      java.sql.Timestamp.valueOf(f"2026-02-0$day%d 09:00:00"), props)
    val planted = Seq(
      ev(1, """{"a": 1, "c": 1}"""),
      ev(2, """{"a": 2, "b": 1}"""),
      ev(3, """{"b": 2, "c": 2}"""))
      .toDF("ts", "props")
    val got = Relational.schemaDriftOn(planted).collect()
      .map(r => ((r.getLong(1), r.getString(2)), r.getString(5))).toMap
    assert(got == Map(
      (1L, "a") -> "baseline", (1L, "c") -> "baseline",
      (2L, "a") -> "kept", (2L, "b") -> "added", (2L, "c") -> "dropped",
      (3L, "a") -> "dropped", (3L, "b") -> "kept", (3L, "c") -> "added"))
  }

  test("q386 source gini equals a sorted-mass replay; law endpoints") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val pat = graft.operators.TextAnalysis.bpeTokenPattern.r
    val mass = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), pat.findAllIn(r.getString(1)).length.toLong))
      .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }.toSeq
    val sorted = mass.sortBy(t => (t._2, t._1)).map(_._2)
    val (n, tot) = (sorted.length.toLong, sorted.sum)
    val sIx = sorted.zipWithIndex.map { case (x, i) =>
      BigInt(i + 1) * BigInt(x) }.sum
    val gini = ((2 * sIx - BigInt(n + 1) * BigInt(tot)) * 1000000 /
      (BigInt(n) * BigInt(tot))).toLong
    val top = mass.sortBy(t => (-t._2, t._1)).map(_._2)
    val r = Relational.sourceConcentration(spark, sf).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((n, tot)))
    assert(r.getLong(2) == top.head * 1000000L / tot)
    assert(r.getLong(3) == top.take(3).sum * 1000000L / tot)
    assert(r.getLong(4) == gini)
    assert(r.getLong(4) >= 0L && r.getLong(4) < 1000000L)
    // endpoints through the SAME plan: perfectly balanced reads 0;
    // one source holding everything reads (n-1)/n
    val equal = Seq(("a", "x y z"), ("b", "x y z"), ("c", "x y z"),
      ("d", "x y z")).toDF("source", "text")
    assert(Relational.sourceConcentrationOn(equal)
      .collect().head.getLong(4) == 0L)
    val skew = Seq(("a", ("x " * 100).trim), ("b", "x"), ("c", "x"),
      ("d", "x")).toDF("source", "text")
    val gSkew = Relational.sourceConcentrationOn(skew)
      .collect().head.getLong(4)
    // (2*(1*1+2*1+3*1+4*100) - 5*103) / (4*103) = 297/412 = 0.72087...
    assert(gSkew == 720873L, s"skew gini $gSkew")
  }

  test("q109 plan guard: the profile reads orders at most twice, never per-column") {
    // profileTable splits the non-distinct aggs (count/min/max - ONE
    // global HashAggregate pass) from the 6 exact countDistincts (the
    // Expand pass): mixing them forced string/decimal min/max buffers
    // through the Expand, disqualifying HashAggregateExec and sorting
    // the 7x-expanded input twice. Two scans of the raw table beat two
    // wide sorts; a rewrite that profiled per column would re-scan
    // orders per column - 6x the I/O at 100 TB. Bound: <= 2 leaves.
    val df = Relational.profileTable(spark, SparkTestSession.sf)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= 2,
      s"profile must be <=2 passes over orders, found ${leaves.size} scan leaves")
    // and no Sort operator anywhere: the split's entire point. (The
    // basic arm still PRINTS as SortAggregate — global min/max over
    // string/decimal buffers — but with zero grouping keys it sorts
    // nothing; the before-plan's cost was two Sort nodes over the
    // 7x-expanded input.)
    // structural collect, not substring-matching the rendered plan:
    // plan rendering differs across Spark versions and AQE
    // re-optimization can insert sorts after toString (round-18
    // advice). collect recurses into AdaptiveSparkPlanExec's current
    // physical plan via its children, and into each query stage's plan.
    def sortNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SortExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sortNodes(a.executedPlan)
      // a materialized query stage has no children: recurse into its plan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        sortNodes(q.plan)
      case s: org.apache.spark.sql.execution.SortExec =>
        s +: s.children.flatMap(sortNodes)
      case other => other.children.flatMap(sortNodes) ++
        other.subqueries.flatMap(sortNodes)
    }
    val sorts = sortNodes(df.queryExecution.executedPlan)
    assert(sorts.isEmpty,
      s"profile must not sort the expanded input (found ${sorts.size} SortExec)")
  }
}
