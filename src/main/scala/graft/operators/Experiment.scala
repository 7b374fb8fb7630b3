package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Experimentation / marketing analytics: the A/B significance test
  * and the attribution join every product-analytics warehouse runs on
  * its event stream. Both are deterministic BY CONSTRUCTION — the
  * statistics are single IEEE operations (divide, multiply, sqrt) on
  * exact integer counts, never a SUM over doubles, so the engines
  * agree bit-for-bit without decimal scaffolding.
  */
object Experiment {

  /** Two-proportion z-test (q129) on a hash-split experiment:
    * variant = user_id % 2, unit = user-day, conversion = "the unit
    * contains a purchase". Two aggregates total: events → units (one
    * shuffle on (user, day) — partial max below the exchange), units
    * → one global row of four counts, then the z statistic is scalar
    * arithmetic ON that row: rate difference over the pooled
    * standard error. Every float op consumes exact integers (counts)
    * exactly once — division, multiplication and sqrt are correctly
    * rounded in IEEE 754, so the z-score is bit-identical in any
    * engine, with NO order-dependent float accumulation anywhere.
    * At 100 TB the unit aggregate dominates and is partial-agg
    * friendly; the final reduce is 4 longs.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val units = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        (col("user_id") % 2).as("variant"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("converted"))
    val counts = units.agg(
      count(when(col("variant") === 0, 1)).as("n_a"),
      count(when(col("variant") === 1, 1)).as("n_b"),
      sum(when(col("variant") === 0, col("converted"))).as("conv_a"),
      sum(when(col("variant") === 1, col("converted"))).as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a")
    val rateB = col("conv_b").cast("double") / col("n_b")
    // pooled proportion and standard error — the expression tree
    // mirrors the oracle SQL term for term so rounding order matches
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pooled * (lit(1) - pooled) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    counts.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      ((rateA - rateB) / se).as("z_score"))
  }

  /** Multi-touch attribution detail (q130): for every purchase, the
    * last preceding touch (click/view) and the 7-day touch counts
    * that drive last-touch / linear attribution models. ONE shuffle
    * on user_id serves all three windows: last-touch is a running
    * `last(ignoreNulls)` over a ROWS frame ordered by the total
    * (ts, event_id) key — the q115 union-stream device, so no
    * purchases⋈touches self-join, no per-purchase touch explosion —
    * and the two 7-day counts are conditional counts over a RANGE
    * frame on integer microseconds (the q87 device). Output is
    * per-purchase SELECTIONS and integer counts only (value passes
    * through unsummed), so the hash compare is exact; model rollups
    * downstream are integer-cent sums over this detail. At scale the
    * two sort orders (lexicographic rows-frame, numeric range-frame)
    * share the single exchange; frames are running, so state per key
    * is O(window), not O(partition).
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .where(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"),
        when(col("event_type").isin("click", "view"), col("event_type"))
          .as("touch"))
    val rowW = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rangeW = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-7L * 86400L * 1000000L, 0L)
    ev.withColumn("last_touch", last(col("touch"), ignoreNulls = true)
        .over(rowW))
      .withColumn("n_clicks_7d",
        count(when(col("touch") === "click", 1)).over(rangeW))
      .withColumn("n_views_7d",
        count(when(col("touch") === "view", 1)).over(rangeW))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("last_touch"), col("n_clicks_7d"), col("n_views_7d"))
  }

  /** Distinct (user_id, day, event_type) baskets and the one-row unit
    * count `n_units`: the input of q133 and q150, the Spark twin of the
    * oracle's `userDayCtes`.
    */
  private def userDayUnits(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val ud = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .distinct()
    (ud, ud.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_units")))
  }

  /** Event-type co-occurrence / market-basket counts (q133): for
    * every unordered pair of event types, how many (user, day) units
    * contain both, plus the support fraction — the input to
    * cross-sell rules and item-item recommenders. Facts first
    * collapse to DISTINCT (user, day, type) — one partial-agg
    * shuffle; the pair build is a self-join ON (user, day) of that
    * collapsed frame, whose fan-out per unit is bounded by C(T,2)
    * over the TYPE CATALOG (a constant), never by corpus size — the
    * per-unit work that makes basket analysis linear. The unit total
    * rides along as a broadcast 1-row frame; support is one IEEE
    * division of exact counts.
    */
  def coOccurrence(spark: SparkSession, sfDir: String): DataFrame = {
    val (ud, units) = userDayUnits(spark, sfDir)
    val a = ud.select(col("user_id"), col("day"),
      col("event_type").as("type_a"))
    val b = ud.select(col("user_id").as("u2"), col("day").as("d2"),
      col("event_type").as("type_b"))
    a.join(b, col("user_id") === col("u2") && col("day") === col("d2") &&
        col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_cooccur"))
      .crossJoin(broadcast(units))
      .select(col("type_a"), col("type_b"), col("n_cooccur"),
        (col("n_cooccur").cast("double") / col("n_units")).as("support"))
  }

  /** Association rules (q150): confidence and lift over q133's
    * (user, day) baskets — the step that turns raw co-occurrence
    * counts into RANKED recommendations ("users who did A also did
    * B"): confidence(A→B) = n_ab/n_a is directional (both
    * directions emitted per unordered pair), lift = n_ab·N/(n_a·n_b)
    * factors out marginal popularity so a pair of independently-
    * common types scores ~1 and true affinity scores above it. All
    * counts are exact integers off two map-side-combined aggregates
    * (per-type and per-pair); each ratio is a pinned two-multiply /
    * one-divide IEEE tree, bit-identical to the oracle. The
    * per-type marginals BROADCAST back onto the pair counts (a
    * catalog-sized frame) — nothing re-touches the fact table.
    */
  def associationRules(spark: SparkSession, sfDir: String): DataFrame = {
    val (ud, units) = userDayUnits(spark, sfDir)
    val marginals = ud.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = ud.select(col("user_id"), col("day"),
      col("event_type").as("type_a"))
    val b = ud.select(col("user_id").as("u2"), col("day").as("d2"),
      col("event_type").as("type_b"))
    val pairs = a.join(b,
        col("user_id") === col("u2") && col("day") === col("d2") &&
          col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(marginals.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(units))
      .select(col("type_a"), col("type_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_ab").cast("double") * col("n_units").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }

  /** Kaplan–Meier time-to-conversion survival (q151): the survival-
    * analysis family (churn curves, time-to-event product analytics)
    * done right-censored — each (user, day) unit either CONVERTS
    * (first purchase, a "death" at dur = minutes from the day's
    * first event) or is CENSORED at its last observed activity;
    * ignoring censoring (just averaging conversion times) biases
    * toward fast converters, which is the whole reason KM exists.
    * S(t) = Π (1 − dᵢ/nᵢ) over event times ≤ t, with the standard
    * convention that units censored AT t are still at risk at t.
    *
    * Exactness: the curve is carried in LOG space — each factor
    * enters as floor(10⁶·ln((nᵢ−dᵢ)/nᵢ)) (one division, one ln, the
    * q141 micro-nat device) and the running product becomes a
    * running BIGINT sum, deterministic under any partitioning;
    * d=0 rows contribute ln(1) = 0 exactly, so the curve is flat
    * between deaths with no drift. Terminal rows where the whole
    * risk set dies (n = d, S → 0, ln → −∞) are excluded — the
    * curve's zero point carries no information beyond its time.
    *
    * Scale shape: one (user, day) aggregate over facts (map-side
    * combined), then the KM recursion runs on the DURATION GRID
    * (≤ minutes-per-day rows — its single-partition window is
    * deliberate and safe, the q131 dates-not-facts rule).
    */
  def kmSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val units = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tl"))
      .select(
        ((coalesce(col("tp"), col("tl")) - col("t0")) / 60000000L)
          .cast("long").as("dur_min"),
        col("tp").isNotNull.as("died"))
    val byDur = units.groupBy(col("dur_min"))
      .agg(sum(when(col("died"), 1L).otherwise(0L)).as("n_died"),
        sum(when(col("died"), 0L).otherwise(1L)).as("n_censored"))
    val w = Window.orderBy(col("dur_min").asc)
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val all = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    byDur
      // at risk just before t = all units minus those already gone
      .withColumn("n_at_risk",
        sum(col("n_died") + col("n_censored")).over(all) -
          coalesce(sum(col("n_died") + col("n_censored")).over(prev),
            lit(0L)))
      .where(col("n_at_risk") > col("n_died"))
      .withColumn("log_surv_micro",
        sum(floor(lit(1000000.0) * log(
          (col("n_at_risk") - col("n_died")).cast("double") /
            col("n_at_risk").cast("double"))).cast("long")).over(run))
      .select(col("dur_min"), col("n_at_risk"), col("n_died"),
        col("n_censored"), col("log_surv_micro"))
  }

  /** One letter per event type, the path alphabet of q134 and q145. */
  private def initial: Column = when(col("event_type") === "view", "v")
    .when(col("event_type") === "click", "c")
    .when(col("event_type") === "purchase", "p")
    .when(col("event_type") === "signup", "s")
    .otherwise("e")

  /** Sequence-pattern detection (q134) — the MATCH_RECOGNIZE / CEP
    * shape Spark lacks natively, composed from built-ins: each
    * (user, day) journey becomes a compact path string (one char per
    * event, ordered by the total (ts, event_id) key) and the patterns
    * are plain regexes over it — `v+c+p` (browse→click→buy) and
    * `e{2,}` (error burst). collect_list alone is order-UNDEFINED, so
    * the struct carries the sort key and `array_sort` fixes the total
    * order before the join to string — that is what makes the path,
    * and thus the match, deterministic under any partitioning. One
    * partial-agg shuffle (ObjectHashAggregate); the per-unit list is
    * bounded by a day's activity, never corpus size; the regexes are
    * codegen'd per row with no further shuffle.
    */
  def cepPattern(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            initial.as("i")))),
          x => x.getField("i")), "").as("path"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("day"), col("path"), col("n_events"),
        col("path").rlike("v+c+p").as("browse_buy"),
        col("path").rlike("e{2,}").as("error_burst"),
        length(regexp_replace(col("path"), "[^p]", "")).cast("long")
          .as("n_purchases"))
      .where(col("browse_buy") || col("error_burst"))
  }

  /** Ordered-set aggregation (q145): the journey paths of q134
    * rebuilt with `LISTAGG ... WITHIN GROUP (ORDER BY ...)` — the
    * SQL-standard ordered-set aggregate Spark 4 added — instead of
    * the `array_sort(collect_list(struct(...)))` composition. The
    * WITHIN GROUP order (ts, event_id) is total, so the concatenated
    * path is deterministic under any partitioning; ExperimentSpec
    * pins the two formulations char-identical, so either surface is
    * safe for users.
    *
    * Scale shape: identical to q134 — ONE (user, day) exchange into
    * an ObjectHashAggregate whose per-group buffer is bounded by a
    * day's activity; the sort is per-group at aggregation time, not
    * a global sort.
    */
  def listaggPaths(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), initial.as("i"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        expr("listagg(i, '') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("path"),
        count(lit(1)).as("n_events"))
  }

  /** The q198 driver entry: CUPED VARIANCE-REDUCED A/B READOUT (Deng
    * et al. 2013) — the adjustment every mature experimentation
    * platform applies before reading a test: a user's PRE-EXPERIMENT
    * spend predicts their in-experiment spend, so subtracting
    * θ·(x − x̄) from each user's metric removes the predictable
    * variance component (θ = cov(x,y)/var(x)) and the same lift
    * becomes significant on a fraction of the traffic. Calendar
    * split: the corpus midpoint day (integer arithmetic) divides
    * pre-period covariate x from experiment metric y; variant is
    * the q129 user_id % 2 assignment.
    *
    * Determinism: x and y are exact cent sums; the four sufficient
    * statistics are order-independent BIGINTs, θ = (n·Sxy − Sx·Sy) /
    * (n·Sxx − Sx²) is ONE IEEE division (0 when var(x) = 0 — the
    * q185 degenerate-fit rule); each user's adjusted metric floors
    * to micro-cents BEFORE the per-variant sum (the q180
    * transcendental-free version of the same rule: a double PRODUCT
    * is order-sensitive to sum, so quantize first).
    *
    * Scale shape: two map-side-combined aggregates (per-user period
    * sums; per-variant rollup) and two single-row broadcasts (the
    * split anchor, the statistics); nothing corpus-sized past the
    * first aggregate.
    */
  def cupedAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
          .as("cents"))
    val anchor = ev.agg(
      date_add(min(col("day")),
        (datediff(max(col("day")), min(col("day"))) / lit(2))
          .cast("int")).as("mid"))
    val units = ev.crossJoin(broadcast(anchor))
      .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
      .agg(sum(when(col("day") < col("mid"), col("cents"))
        .otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents"))
          .otherwise(0L)).as("y"))
    val stats = units.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val varX = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val theta = when(varX === 0.0, lit(0.0))
      .otherwise((col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") / varX)
    val xbar = col("sx").cast("double") / col("n").cast("double")
    val adj = units.crossJoin(broadcast(
        stats.select(theta.as("theta"), xbar.as("xbar"))))
      .withColumn("adj_micro",
        floor(lit(1000000.0) * (col("y").cast("double") -
          col("theta") * (col("x").cast("double") - col("xbar"))))
          .cast("long"))
    adj.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("y")).cast("long").as("sum_y_cents"),
        sum(col("adj_micro")).cast("long").as("sum_adj_micro"),
        max(floor(lit(1000000.0) * col("theta")).cast("long"))
          .as("theta_micro"))
      .select(col("variant"), col("n_users"), col("sum_y_cents"),
        (col("sum_y_cents").cast("double") /
          col("n_users").cast("double")).as("mean_y_cents"),
        col("sum_adj_micro"),
        (col("sum_adj_micro").cast("double") /
          (col("n_users").cast("double") * lit(1000000.0)))
          .as("mean_adj_cents"),
        col("theta_micro"))
  }

  private val churnHorizonDays = 14

  /** The q208 driver entry: CHURN LABEL GENERATION — the label table
    * a churn model trains on, built censoring-aware: a user is
    * churned when their recency (days from last activity to the
    * observation end) exceeds the horizon, but that label is only
    * OBSERVABLE for users whose first activity predates the horizon
    * — labeling a 3-day-old user "retained" at a 14-day horizon is
    * the leakage this op exists to prevent (the q151 right-censoring
    * discipline applied to label GENERATION rather than estimation;
    * pairs with q162's leakage-free split).
    *
    * All integer/date arithmetic; one map-side-combined per-user
    * aggregate plus a 1-row anchor broadcast.
    */
  def churnLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val anchor = ev.agg(max(col("day")).as("obs_end"))
    ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"),
        max(col("day")).as("last_day"),
        count_distinct(col("day")).as("n_active_days"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), col("first_day"), col("last_day"),
        col("n_active_days"),
        datediff(col("obs_end"), col("last_day")).cast("long")
          .as("recency_days"),
        (datediff(col("obs_end"), col("first_day")) >= churnHorizonDays)
          .as("observable"),
        (datediff(col("obs_end"), col("first_day")) >= churnHorizonDays &&
          datediff(col("obs_end"), col("last_day")) > churnHorizonDays)
          .as("churned"))
  }

  /** The q212 driver entry: EXACT ROC-AUC (tie-corrected
    * Mann-Whitney) — the standard evaluation statistic for every
    * scorer a training pipeline ships (quality classifiers, dedup
    * thresholds, reranker margins). Here it scores the English
    * stopword-ratio as a detector of q40's lang_pred == 'en': AUC =
    * P(score_pos > score_neg) + P(=)/2, computed EXACTLY via the
    * rank-sum identity with average ranks for ties.
    *
    * Exactness device: scores are micro-floored stopword ratios
    * (one IEEE division + floor — bit-portable); ranks live in
    * DOUBLED units so tie-averages stay integral: for a tie group
    * with c members after cum predecessors, 2*avg_rank = 2*cum + c +
    * 1; U2 = sum over positives of 2*avg_rank minus P*(P+1) is an
    * exact BIGINT, and AUC = U2 / (2*P*N) is micro-floored once.
    * The -1 sentinel covers a degenerate corpus (P=0 or N=0).
    *
    * Scale shape: one doc-grain pass computes (score, label); the
    * rank accounting GROUPS BY SCORE first (the score domain — 1e6
    * micro values max — bounds every window and join after the first
    * aggregate; corpus-sized data never enters a window), then one
    * bounded cumulative window and one final 1-row reduce.
    */
  /** The (doc_id, score, is_en) frame rocAuc ranks — exposed for the
    * spec's naive pair-count differential.
    */
  /** The q247 driver entry: SCORER RANK-AGREEMENT AUDIT — the
    * integer core of Kendall's tau-b between two quality scorers
    * (q212's stopword-ratio detector vs q182's char-entropy binned
    * 0.1-nat-wide over the natural-text 2.5-3.5 band), the
    * question a curation team asks before stacking gates: do these
    * two scores rank documents the SAME way (redundant) or
    * differently (complementary)? Scores decile-bin fixed-width (the
    * q218 device, portable integer bins), the 10x10 contingency
    * table replaces the O(n^2) pair walk — concordant / discordant /
    * tied pair counts all read off cell products — and the output is
    * tau-b's exact integer components (C, D, tied-in-x, tied-in-y,
    * total pairs); the final sqrt-bearing ratio is one line for the
    * consumer, kept out of the engine (the q218 no-float rule).
    *
    * Pair counts are n(n-1)/2-scale: computed in DECIMAL(38) and
    * output as BIGINT — exact to ~4.3e9 docs, documented (beyond
    * that a pair-statistic is sampled anyway).
    *
    * Scale shape: two doc-grain passes (score + entropy) joined at
    * doc grain, one 100-cell aggregate; the cell cross join is
    * 10^4 rows of driver-free arithmetic.
    */
  def scorerAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = rocAucScored(spark, sfDir)
      .select(col("doc_id"),
        least(floor(col("score").cast("double") / 100000.0)
          .cast("long"), lit(9L)).as("bx"))
    val ent = TextAnalysis.charEntropy(spark, sfDir)
      .select(col("doc_id"),
        least(expr("""greatest((CAST(FLOOR(1000000.0 * ln(CAST(n_chars AS DOUBLE)))
              AS BIGINT) * n_chars - s_micro) DIV n_chars DIV 100000 - 25,
            CAST(0 AS BIGINT))"""),
          lit(9L)).as("by"))
    val cells = sc.join(ent, Seq("doc_id"))
      .groupBy(col("bx"), col("by"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val a = cells.select(col("bx").as("bxa"), col("by").as("bya"),
      col("n").as("na"))
    val b = cells.select(col("bx").as("bxb"), col("by").as("byb"),
      col("n").as("nb"))
    val pairs = a.crossJoin(broadcast(b)) // bounded 10x10 bin domain
    val cd = pairs.agg(
      expr("""CAST(SUM(CASE WHEN bxb > bxa AND byb > bya
            THEN CAST(na AS DECIMAL(38,0)) * nb ELSE 0 END)
          AS BIGINT)""").as("concordant"),
      expr("""CAST(SUM(CASE WHEN bxb > bxa AND byb < bya
            THEN CAST(na AS DECIMAL(38,0)) * nb ELSE 0 END)
          AS BIGINT)""").as("discordant"))
    val tx = cells.groupBy(col("bx"))
      .agg(sum(col("n")).as("sx"))
      .agg(expr("""CAST(SUM(CAST(sx AS DECIMAL(38,0)) * (sx - 1) DIV 2)
          AS BIGINT)""").as("tied_x"))
    val ty = cells.groupBy(col("by"))
      .agg(sum(col("n")).as("sy"))
      .agg(expr("""CAST(SUM(CAST(sy AS DECIMAL(38,0)) * (sy - 1) DIV 2)
          AS BIGINT)""").as("tied_y"))
    val tot = cells.agg(sum(col("n")).as("nd"))
      .select(col("nd").as("n_docs"),
        expr("CAST(CAST(nd AS DECIMAL(38,0)) * (nd - 1) DIV 2 AS BIGINT)")
          .as("n_pairs"))
    tot.crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
  }

  private[graft] def rocAucScored(
      spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val nTok = TextAnalysis.tokenCount(col("text"))
    val nStop = regexp_count(col("text"),
      lit(TextAnalysis.stopwordPattern)).cast("long")
    val en = TextAnalysis.langId(spark, sfDir)
      .select(col("doc_id"), (col("lang_pred") === "en").as("is_en"))
    docs
      .select(col("doc_id"),
        floor(lit(1000000.0) * (nStop.cast("double") /
          greatest(nTok, lit(1L)).cast("double"))).cast("long")
          .as("score"))
      .join(en, Seq("doc_id"))
  }

  /** The [[rocAucScored]] docs grouped by score (count c, positives p)
    * with the count strictly below each score (cum): the doubled
    * mid-rank input of q212 and q276, the Spark twin of the oracle's
    * `scoreRankCtes`.
    */
  private def scoreRanked(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = rocAucScored(spark, sfDir)
    val byScore = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("p"))
    val wc = Window.orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum", coalesce(sum(col("c")).over(wc), lit(0L)))
  }

  def rocAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = scoreRanked(spark, sfDir)
    val agg = ranked.agg(
      sum(col("p")).as("n_pos"),
      (sum(col("c")) - sum(col("p"))).as("n_neg"),
      sum(col("p") * (lit(2L) * col("cum") + col("c") + lit(1L)))
        .as("r2_pos"))
    agg.select(
      col("n_pos").cast("long").as("n_pos"),
      col("n_neg").cast("long").as("n_neg"),
      (col("r2_pos") - col("n_pos") * (col("n_pos") + lit(1L)))
        .cast("long").as("u2"),
      when(col("n_pos") === 0 || col("n_neg") === 0, lit(-1L))
        .otherwise(floor(lit(1000000.0) *
          (col("r2_pos") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).cast("long"))
        .as("auc_micro"))
  }

  /** The q218 driver entry: CALIBRATION BINS + BRIER GAP — the
    * reliability-diagram table for a scorer (here q212's stopword
    * ratio as an English detector): fixed-width decile bins over the
    * micro score, per bin the population, mean score (claimed
    * confidence), empirical positive rate, and the signed gap — the
    * exact integer core of the Brier reliability term. A
    * well-calibrated scorer has gaps near zero; a confident-but-wrong
    * one shows large positive gaps in its top bins.
    *
    * All integer: mean score and rate are truncating DIVs of exact
    * sums; the gap is their difference. The weighted squared-gap
    * (reliability numerator) is computed in DECIMAL(38,0)/HUGEINT and
    * reported MICRO-scaled — (n·gap²) DIV 1e6 — because the raw
    * micro² sum (gap² <= 1e12 times bin population) exceeds BIGINT
    * past ~9e6 rows per bin (round-12 advice): the rescaled value
    * stays exact integer on both engines and fits BIGINT to ~9e12
    * rows per bin.
    *
    * Scale shape: one doc-grain pass into a 10-group aggregate —
    * map-side combined, nothing else.
    */
  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame =
    rocAucScored(spark, sfDir)
      .select(
        least(floor(col("score").cast("double") / 100000.0)
          .cast("long"), lit(9L)).as("bin"),
        col("score"), col("is_en"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("score")).as("ssum"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("pos"))
      .select(col("bin"), col("n").cast("long").as("n"),
        expr("ssum DIV n").as("mean_score_micro"),
        expr("(pos * 1000000) DIV n").as("rate_micro"),
        (expr("ssum DIV n") - expr("(pos * 1000000) DIV n"))
          .as("gap_micro"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) *
                (ssum DIV n - (pos * 1000000) DIV n) *
                (ssum DIV n - (pos * 1000000) DIV n)) DIV 1000000
              AS BIGINT)""").as("weighted_sq_gap_micro"))

  /** The q224 driver entry: BENFORD FIRST-DIGIT AUDIT — the
    * data-forensics screen for fabricated or re-scaled numeric feeds:
    * naturally-occurring multiplicative amounts follow
    * P(d) = log10(1 + 1/d); a feed that was synthesized, clipped, or
    * unit-mangled departs visibly. Per first significant digit of the
    * event value (in cents, so the digit is scale-honest): observed
    * count, observed share, expected Benford share, and the signed
    * micro gap — the per-digit components an auditor reads (the
    * chi-square rollup is one weighted sum away and intentionally
    * left per-digit, the q218 reliability-table discipline).
    *
    * Determinism: the first digit is pure integer string math on
    * exact cents; shares are truncating DIVs; the ONLY float is
    * log10(1+1/d) for d in 1..9 — nine constants, micro-floored, the
    * same nine IEEE ops in both engines.
    *
    * Scale shape: one fact-scan pass map-side combined to NINE rows.
    */
  def benfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = floor(col("value") * 100.0 + 0.5).cast("long")
    val counts = Tables.load(spark, sfDir, "events")
      .where(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n").cast("long").as("n"),
        expr("(n * 1000000) DIV t").as("share_micro"),
        floor(lit(1000000.0) *
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
          .cast("long").as("benford_micro"))
      .withColumn("gap_micro",
        col("share_micro") - col("benford_micro"))
  }

  /** The q225 driver entry: COHEN'S KAPPA for the lang-ID heuristic —
    * the chance-corrected agreement summary over q207's contingency
    * (accuracy alone flatters a classifier on a skewed label mix).
    * Exact rational form: kappa = (n·Σdiag − Σ rᵢcᵢ) /
    * (n² − Σ rᵢcᵢ) over exact integer marginals, micro-floored once;
    * the −1 sentinel covers the degenerate pe = 1 corpus.
    *
    * Scale shape: one doc-grain join + a contingency aggregate over
    * the (true, pred) domain; marginals and the final scalar reduce
    * over that bounded table.
    */
  def langIdKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang").as("lang_true"))
    val pred = TextAnalysis.langId(spark, sfDir)
      .select(col("doc_id"), col("lang_pred"))
    val cells = truth.join(pred, Seq("doc_id"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy(col("lang_true").as("k"))
      .agg(sum(col("n")).as("r"))
    val cols = cells.groupBy(col("lang_pred").as("k"))
      .agg(sum(col("n")).as("c"))
    val rc = rows.join(cols, Seq("k"), "full_outer")
      .agg(sum(coalesce(col("r"), lit(0L)) * coalesce(col("c"), lit(0L)))
        .as("srcontainsc"))
    val diag = cells.agg(
      sum(col("n")).as("nn"),
      sum(when(col("lang_true") === col("lang_pred"), col("n"))
        .otherwise(0L)).as("sdiag"))
    diag.crossJoin(broadcast(rc))
      .select(
        col("nn").cast("long").as("n"),
        col("sdiag").cast("long").as("n_agree"),
        col("srcontainsc").cast("long").as("sum_rc"),
        when(col("nn") * col("nn") === col("srcontainsc"), lit(-1L))
          .otherwise(floor(lit(1000000.0) *
            (col("nn") * col("sdiag") - col("srcontainsc")).cast("double") /
            (col("nn") * col("nn") - col("srcontainsc")).cast("double"))
            .cast("long"))
          .as("kappa_micro"))
  }

  /** The q231 driver entry: RECENCY-DECAYED ACTIVITY — the standard
    * engagement feature (exponentially time-decayed spend) with the
    * q209 exactness device: a half-life of one day makes the weight
    * 2^-age, so each event's contribution is cents DIV (1 << age) —
    * one truncating shift-divide per event, exact in both engines,
    * ORDER-INDEPENDENT under any partitioning (no float accumulator,
    * no exp()). Age anchors at the corpus max date and caps at 40
    * (beyond which the term is zero for any realistic amount).
    *
    * Scale shape: one fact pass with a broadcast 1-row anchor,
    * map-side combined to the user domain.
    */
  def decayedActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts").cast("date").as("d"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val anchor = ev.agg(max(col("d")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age",
        least(datediff(col("anchor"), col("d")), lit(40)).cast("int"))
      .withColumn("term", expr("cents DIV shiftleft(1L, age)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("term")).as("decayed_cents"))
      .select(col("user_id"), col("n_events").cast("long").as("n_events"),
        col("raw_cents").cast("long").as("raw_cents"),
        col("decayed_cents").cast("long").as("decayed_cents"))
  }

  private[graft] val markovStationaryIters = 30

  /** The q232 driver entry: MARKOV STATIONARY DISTRIBUTION of the
    * user-journey chain — where q121 reports one-step transition
    * probabilities, the stationary vector answers "where do journeys
    * SPEND their time", the quantity behind PageRank-style content
    * scoring and session-mix forecasting. The q214 integer device on
    * the q121 counts: pi iterates as
    * pi'[j] = Σ_i (pi[i]·n(i,j)) DIV rowsum(i) (per-TERM truncating
    * division, so the sum is order-independent), renormalized to 1e6
    * each round; 30 rounds on the collected types² table driver-side
    * in BigInt; the oracle replays the rounds as generated
    * MATERIALIZED CTEs over the bounded state domain.
    *
    * Scale shape: the lead-window transition count is the only
    * fact-scale stage (q121's); iteration cost is O(types²·T),
    * corpus-independent.
    */
  def markovStationary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val counts = Tables.load(spark, sfDir, "events")
      .withColumn("to_type", lead(col("event_type"), 1).over(order))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = (counts.map(_._1) ++ counts.map(_._2)).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val k = states.length
    val nMat = Array.ofDim[Long](k, k)
    counts.foreach { case (f, t, n) => nMat(idx(f))(idx(t)) = n }
    val rowsum = nMat.map(_.sum)
    var pi = Array.fill(k)(BigInt(1000000))
    for (_ <- 1 to markovStationaryIters) {
      val raw = Array.tabulate(k)(j =>
        (0 until k).map(i =>
          if (rowsum(i) == 0) BigInt(0)
          else pi(i) * nMat(i)(j) / rowsum(i)).sum)
      val sp = raw.sum
      if (sp != 0) pi = raw.map(_ * 1000000 / sp)
    }
    states.indices.map(i =>
      (states(i), rowsum(i), pi(i).toLong))
      .toDF("state", "n_out", "pi_micro")
  }

  /** The q233 driver entry: GAINS/LIFT TABLE — the third leg of
    * scorer evaluation beside q212's AUC (ranking power) and q218's
    * calibration (probability honesty): rank the corpus by score
    * descending, cut into deciles, and report per decile the positive
    * count, the cumulative capture share (of all positives), and the
    * lift vs uniform — the table behind "the top 20% of the ranking
    * captures X% of the targets", which is how a filtering budget is
    * actually chosen.
    *
    * All integer: the decile is exact rank arithmetic
    * ((10·(rk−1)) DIV n), shares and lift are truncating DIVs of
    * exact counts (lift in micro: capture·10·1e6 / (decile+1) ... the
    * cumulative-uniform baseline (decile+1)/10).
    *
    * Scale shape: NO doc-grain rank — one map-side-combined
    * per-score aggregate onto the bounded micro-score domain, whole
    * score groups assigned to deciles arithmetically from their
    * contiguous rank ranges, doc-grain tie resolution only for the
    * ≤ 9 boundary-straddling groups, then a 10-row aggregate +
    * bounded cumulative window.
    */
  /** SCORE-GROUP DECILE SPLIT (round-16, shared by q233 and q402):
    * exact rank-decile aggregates WITHOUT any doc-grain rank. Under
    * the global order (score desc, doc_id asc), a whole score GROUP
    * occupies the contiguous rank range [cum0+1, cum0+c] — it lands
    * wholly inside one decile unless it straddles a boundary, and at
    * most 9 groups can straddle (one per interior boundary). The
    * plan: one map-side-combined per-score aggregate (exchange = the
    * bounded micro-score domain, the q119/q258 bounded-domain window
    * rationale), whole groups folded arithmetically — a group's
    * score is constant, so its score mass is c·score — and doc-grain
    * tie resolution (doc_id asc within the group, exactly the global
    * order's tiebreak) ONLY for the straddling groups' docs. Same
    * tables as a global rank at ~domain-sized cost (this rewrite
    * restored q233's 2.3× median drift flagged by the round-15
    * verdict).
    *
    * Input: a `(doc_id, score, is_en)` frame. Output per decile
    * (0 = top-ranked tenth): n_docs, n_pos, sum_score.
    */
  private[graft] def scoreGroupDecileAgg(
      scoredIn: DataFrame,
      straddleWindowMax: Long = 1L << 20): DataFrame = {
    val scored = scoredIn.localCheckpoint(true)
    val n = scored.agg(count(lit(1)).cast("long").as("n"))
    val wDesc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grp = scored.groupBy(col("score"))
      .agg(count(lit(1)).cast("long").as("c"),
        sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("p"))
      .withColumn("cum0", coalesce(sum(col("c")).over(wDesc), lit(0L)))
      .crossJoin(broadcast(n))
      // first/last rank of the group are cum0+1 and cum0+c; decile of
      // rank rk is (10*(rk-1)) DIV n
      .withColumn("d_first", expr("(10 * cum0) DIV n"))
      .withColumn("d_last", expr("(10 * (cum0 + c - 1)) DIV n"))
      .localCheckpoint(true) // read by the whole-group and straddle arms
    val whole = grp.where(col("d_first") === col("d_last"))
      .select(col("d_first").as("decile"), col("c").as("nd"),
        col("p").as("np"),
        (col("c") * col("score")).cast("long").as("ssum"))
    // STRADDLE ARM (round-16 advice, medium): ranking straddling-group
    // docs with row_number() over Window.partitionBy(score) puts a
    // whole tie group in ONE window partition — the ≤9-group bound
    // limits how many groups straddle, not how BIG one is (the score=0
    // stopword-ratio mass is O(corpus)). Rank through the chunked-rank
    // device instead: bucket = (score, 1024-way doc_id range), order =
    // (score asc, doc_id asc) — a global rank over the straddle frame,
    // converted to the within-group rank by subtracting each group's
    // offset (adj = cum0 − preceding-straddle-doc count, a ≤9-row
    // triangular fold). Bucket domain ≤ 9 × 1024 — the device's B²
    // offset join stays trivial — and the widest window partition is
    // ~1/1024 of the largest tie group instead of all of it.
    // ROUTING (round-17): the two rank devices trade differently —
    // the per-score window is one pass and exact but puts a whole tie
    // group in ONE window partition; the chunked-rank path bounds the
    // widest partition at ~1/1024 of the group but costs three extra
    // jobs over the checkpointed frame (measured: q233 0.75 -> 2.33 s
    // quiet at sf0.1 when it ran unconditionally). The straddling-
    // group table is <= 9 rows BY CONSTRUCTION (one per interior
    // boundary), so reading it is bounded driver state: take the
    // cheap window while every straddling group fits a partition
    // (default bound 2^20 docs), the chunked device only when a
    // corpus-scale tie group (the round-16 advice hazard) is present.
    val sg = grp.where(col("d_first") =!= col("d_last"))
      .select(col("score"), col("cum0"), col("n"), col("c"))
      .localCheckpoint(true) // <= 9 rows; read by the route probe + arms
    val maxStraddle = sg.agg(coalesce(max(col("c")), lit(0L)))
      .head().getLong(0)
    val straddle = if (maxStraddle <= straddleWindowMax) {
      scored
        .join(broadcast(sg.select(col("score"), col("cum0"), col("n"))),
          Seq("score"))
        .withColumn("rk_in", row_number().over(
          Window.partitionBy(col("score")).orderBy(col("doc_id").asc))
          .cast("long"))
        .withColumn("decile", expr("(10 * (cum0 + rk_in - 1)) DIV n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("nd"),
          sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("np"),
          sum(col("score")).cast("long").as("ssum"))
    } else {
      // chunked-rank path: a global rank over the straddle frame with
      // bucket = (score, 1024-way doc_id range), order = (score asc,
      // doc_id asc), converted to the within-group rank by subtracting
      // each group's offset (adj = cum0 - preceding-straddle-doc
      // count, a <= 9-row triangular fold). Bucket domain <= 9 x 1024
      // - the device's B^2 offset join stays trivial - and the widest
      // window partition is ~1/1024 of the largest tie group.
      val adjG = sg.as("a")
        .join(sg.as("b"), col("b.score") < col("a.score"), "left")
        .groupBy(col("a.score").as("score"), col("a.cum0").as("cum0"),
          col("a.n").as("n"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
        .select(col("score"), col("n"),
          (col("cum0") - col("off")).as("adj"))
      val mm = scored.join(broadcast(adjG.select(col("score"))), Seq("score"))
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      val sdocs = scored.join(broadcast(adjG), Seq("score"))
        .crossJoin(broadcast(mm))
      // 1024-way equal-width id range: monotone in doc_id (prefix of
      // the order), exact for any BIGINT id via the DECIMAL product
      val idBucket = expr(
        "CAST((CAST(doc_id AS DECIMAL(38,0)) - mn) * 1024 " +
          "DIV (CAST(mx AS DECIMAL(38,0)) - mn + 1) AS BIGINT)")
      Relational.chunkedRowNumber(sdocs,
          struct(col("score"), idBucket),
          Seq(col("score").asc, col("doc_id").asc), out = "srk")
        .withColumn("decile", expr("(10 * (adj + srk - 1)) DIV n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("nd"),
          sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("np"),
          sum(col("score")).cast("long").as("ssum"))
    }
    whole.unionByName(straddle)
      .groupBy(col("decile"))
      .agg(sum(col("nd")).cast("long").as("n_docs"),
        sum(col("np")).cast("long").as("n_pos"),
        sum(col("ssum")).cast("long").as("sum_score"))
  }

  def gainsTable(spark: SparkSession, sfDir: String): DataFrame = {
    // round-16: decile aggregates via the shared score-group split
    // (scaladoc on scoreGroupDecileAgg) — no doc-grain rank anywhere
    val per = scoreGroupDecileAgg(rocAucScored(spark, sfDir))
      .select(col("decile"), col("n_docs"), col("n_pos"))
    val wCum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum(col("n_pos")).as("tp"))
    per.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum).cast("long"))
      .select(col("decile"), col("n_docs").cast("long").as("n_docs"),
        col("n_pos").cast("long").as("n_pos"), col("cum_pos"),
        expr("(cum_pos * 1000000) DIV tp").as("capture_micro"),
        expr("(cum_pos * 10000000) DIV (tp * (decile + 1))")
          .as("lift_micro"))
  }

  private val ksSegA = "purchase"
  private val ksSegB = "click"

  /** The q258 driver entry: TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT TEST
    * — the distribution-free drift check ML-ops runs between two
    * segments of a metric (here purchase vs click transaction values
    * in exact cents): D = max |F̂₁(x) − F̂₂(x)| over the merged value
    * domain. Everything is EXACT integers by cross-multiplication —
    * the scaled statistic is max |cum₁·n₂ − cum₂·n₁| (ties in value
    * collapse into one domain point, so the sup is over jump points,
    * which is exactly where the sup of a step-function difference
    * lives), micro-scaled once by truncating DIV at the end; the
    * argmax value is tie-pinned by the smallest x attaining it.
    *
    * Scale shape: one (segment, value) count aggregate (map-side
    * combined — the exchange carries the DISTINCT value domain, not
    * events), a full-outer merge on value, and one ordered cumulative
    * window over the bounded domain of distinct cent values (the q119
    * rationale: money domains are bounded; corpus-scale domains would
    * use the q200 chunked scan). The final max is a 1-row reduce.
    * Products are DECIMAL(38,0)/HUGEINT (the q221 rule — cum·n·10⁶
    * passes 2⁶³ beyond ~10⁶ rows per segment).
    */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val ev = Tables.load(spark, sfDir, "events")
      .where(col("event_type").isin(ksSegA, ksSegB))
      .select(col("event_type").as("seg"), cents.as("v"))
    val counts = ev.groupBy(col("v"))
      .agg(sum(when(col("seg") === ksSegA, 1L).otherwise(0L)).as("c1"),
        sum(when(col("seg") === ksSegB, 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walked = counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
    val tot = walked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    walked.crossJoin(broadcast(tot))
      .select(col("v"), col("n1"), col("n2"),
        abs(expr("CAST(cum1 AS DECIMAL(38,0)) * n2 - " +
          "CAST(cum2 AS DECIMAL(38,0)) * n1")).as("gap"))
      .orderBy(col("gap").desc, col("v").asc)
      .limit(1)
      // d_cross = |cum1*n2 - cum2*n1| <= n1*n2: BIGINT holds it to
      // ~3e9 rows PER SEGMENT (n1*n2 < 2^63), far past any bench SF;
      // past that the ANSI cast fails loudly on both engines. The
      // intermediate `gap` products stay DECIMAL(38,0) — only the
      // OUTPUT column narrows, because DECIMAL(38,0) output columns
      // are the one type family the driver's hash canonicalizer
      // renders differently per engine (round-13 q251/q258 reds).
      .select(col("n1"), col("n2"),
        col("gap").cast("bigint").as("d_cross"),
        expr("CAST((CAST(gap AS DECIMAL(38,0)) * 1000000) " +
          "DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)").as("d_micro"),
        col("v").as("argmax_cents"))
  }

  /** The q251 driver entry: PEARSON CORRELATION MATRIX over the fact
    * table's numeric columns — the feature-correlation profile a
    * tabular-ML prep pipeline computes before feature selection.
    * Columns are fixed-point integers (quantity in units, price in
    * whole dollars via truncating cents DIV 100, discount/tax in
    * hundredths), and the whole matrix reduces in ONE corpus pass:
    * 15 sufficient statistics (n, four Σx, four Σx², six Σxy) with
    * map-side combine, then each of the 6 pairs is scalar arithmetic
    * on that single row.
    *
    * Exactness: with A = nΣxy − ΣxΣy, B = nΣx² − (Σx)², C = nΣy² −
    * (Σy)², the reported statistic is the SIGNED SQUARED correlation
    * in ppm, defined AS the integer expression
    * sign(A) · (A² DIV (B·C DIV 10⁶)) — truncating DIV both engines,
    * no float division, no sqrt, no decimal→double cast (HUGEINT →
    * DOUBLE is double-rounded in some engines, which is exactly the
    * hazard class q221 removed). The A/B/C products and the final
    * ratio are DECIMAL(38,0)/HUGEINT (the q221 widening rule); the
    * dollars-not-cents pre-scaling keeps the 15 sufficient-statistic
    * SUMS in BIGINT (Σ(price²) ≈ 7·10¹⁵ at sf0.1 — under 2⁶³ to
    * ~10⁸ rows, and past that both engines fail LOUDLY: ANSI
    * overflow here, range error in the oracle). Bound: A² and B·C
    * stay inside 38 digits to ~10⁷ rows at these column scales —
    * past that, coarsen the fixed-point scales (the statistic is
    * unit-invariant apart from the fixed-point floor).
    *
    * Scale shape: one scan, zero joins, zero shuffles beyond the
    * 15-column partial-aggregate merge; the 6-row matrix is built by
    * exploding a struct array OVER the one aggregate row.
    */
  def correlationMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq(
      "qty" -> expr("CAST(l_quantity AS BIGINT)"),
      "price" -> expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"),
      "disc" -> expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)"),
      "tax" -> expr("CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    val vals = Tables.load(spark, sfDir, "lineitem")
      .select(cols.map { case (n, e) => e.as(n) }: _*)
    val names = cols.map(_._1)
    // products stay BIGINT: the dollars-not-cents scaling keeps
    // Σ(price²) under 2⁶³ to ~10⁸ rows, and past that BOTH engines
    // fail loudly (ANSI overflow / DuckDB range error) rather than
    // diverge — the q221 posture with the widening deferred to the
    // A/B/C stage, where DECIMAL(38) is genuinely needed. BIGINT
    // partials also keep the 15-column aggregate in whole-stage
    // codegen (decimal sums benched ~2x slower on this scan).
    val sums =
      Seq(count(lit(1)).as("n")) ++
        names.map(n => sum(col(n)).as(s"s_$n")) ++
        (for (i <- names.indices; j <- i until names.length) yield {
          val (a, b) = (names(i), names(j))
          sum(expr(s"$a * $b")).as(s"p_${a}_$b")
        })
    val agg = vals.agg(sums.head, sums.tail: _*)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield {
      val (a, b) = (names(i), names(j))
      struct(
        lit(s"$a~$b").as("pair"),
        col("n").cast("long").as("n"),
        col(s"s_$a").cast("long").as("sum_x"),
        col(s"s_$b").cast("long").as("sum_y"),
        expr(s"""CAST(CAST(n AS DECIMAL(38,0)) * p_${a}_$b -
                 CAST(s_$a AS DECIMAL(38,0)) * s_$b AS DECIMAL(38,0))""")
          .as("a_num"),
        expr(s"""CAST(CAST(n AS DECIMAL(38,0)) * p_${a}_$a -
                 CAST(s_$a AS DECIMAL(38,0)) * s_$a AS DECIMAL(38,0))""")
          .as("b_den"),
        expr(s"""CAST(CAST(n AS DECIMAL(38,0)) * p_${b}_$b -
                 CAST(s_$b AS DECIMAL(38,0)) * s_$b AS DECIMAL(38,0))""")
          .as("c_den"))
    }
    // truncating X/Y on positive DECIMAL(38,0) without IntegralDivide
    // (whose BIGINT result overflows for the inner quotient): strip
    // the remainder, divide exactly, re-narrow. The exact quotient is
    // integral, so the (38,6) division result holds it losslessly up
    // to 10^32.
    def td(x: String, y: String) =
      s"CAST(($x - PMOD($x, $y)) / ($y) AS DECIMAL(38,0))"
    val bc6 = td("(m.b_den * m.c_den)", "CAST(1000000 AS DECIMAL(38,0))")
    agg.select(explode(array(pairs: _*)).as("m"))
      .select(col("m.pair").as("pair"), col("m.n").as("n"),
        col("m.sum_x").as("sum_x"), col("m.sum_y").as("sum_y"),
        // a_num = n*Σxy − Σx*Σy narrows to BIGINT at OUTPUT only
        // (~5.4e12 at sf0.01, ~n^2-scaling keeps it < 2^63 to ~1e7
        // rows — the same horizon as the 38-digit A²/BC bound above;
        // ANSI cast fails loudly past it). The A/B/C INTERMEDIATES
        // stay DECIMAL(38,0); only the output column narrows, because
        // DECIMAL(38,0) outputs are the driver-hash hazard family
        // (round-13 reds).
        col("m.a_num").cast("bigint").as("a_num"),
        expr(s"""CAST(CASE
                 WHEN m.b_den * m.c_den < 1000000 THEN 0
                 ELSE CAST(SIGNUM(m.a_num) AS BIGINT) *
                   CAST(${td("(m.a_num * m.a_num)", bc6)} AS BIGINT)
               END AS BIGINT)""").as("r2_signed_ppm"))
  }

  /** Cyclic-next language in the fixture's sorted lang domain — the
    * deterministic "wrong label" a noisy rater emits. Shared verbatim
    * (as a CASE) with the q268 oracle.
    */
  private val langNext: Column =
    when(col("lang") === "de", "en").when(col("lang") === "en", "es")
      .when(col("lang") === "es", "fr").when(col("lang") === "fr", "zh")
      .otherwise("de")

  /** The q268 driver entry: FLEISS' KAPPA — chance-corrected
    * agreement for MANY raters, the labeling-QA statistic an
    * annotation pipeline (RLHF preference labels, lang-ID golden
    * sets) gates batches on where q184's Cohen kappa only compares
    * TWO raters. Three deterministic synthetic raters label each
    * document's language: rater r corrupts the true lang to its
    * cyclic-next with probability r/10, decided by an md5-derived
    * integer (the cross-engine pseudo-randomness device — DuckDB
    * recomputes the identical hash, so the full rating matrix is
    * replayed, not approximated).
    *
    * Exact-integer statistic: with N items, R raters, n_ic = raters
    * assigning item i category c,
    *   P̄  = (Σ n_ic² − N·R) / (N·R·(R−1)),
    *   P̄e = Σ_c S_c² / (N·R)²  (S_c the category column sum),
    * reported as truncating micros; kappa_micro composes the two
    * already-truncated micros ((pbar−pe)·10⁶ DIV (10⁶−pe) — both
    * engines replay the same truncation, error ≤ 2 micro vs the true
    * rational, and its own intermediates stay < 10¹³ at any N; the
    * pe_num products run in DECIMAL(38,0)/HUGEINT per the q221 rule
    * since S_c² breaches BIGINT past ~10⁹ ratings).
    *
    * Scale shape: explode ×R (R=3), one (doc, label) partial-agg
    * count whose exchange carries the doc domain once, then a 5-row
    * category reduce and a 1-row finish — no joins, no windows.
    */
  def fleissKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val raters = 3
    val rated = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(array((1 to raters).map(lit): _*)).as("r"))
      .select(col("doc_id"),
        when(conv(substring(md5(concat(lit("rate:"),
            col("doc_id").cast("string"), lit(":"), col("r").cast("string"))),
            1, 15), 16, 10).cast("long") % 10 < col("r"),
          langNext).otherwise(col("lang")).as("label"))
    val nic = rated.groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    val perCat = nic.groupBy(col("label"))
      .agg(sum(col("c") * col("c")).as("sum_sq"), sum(col("c")).as("s_c"))
    val agg = perCat.agg(
      sum(col("sum_sq")).as("ss"),
      // S_c ~ N·R, so S_c² (and (N·R)² below) breach BIGINT past
      // ~10⁹ ratings — DECIMAL(38,0) per the q221 overflow rule
      sum(col("s_c").cast("decimal(38,0)") * col("s_c")).as("pe_num"),
      expr(s"CAST(sum(s_c) DIV $raters AS BIGINT)").as("n_items"))
    agg.select(
      col("n_items"), lit(raters).cast("long").as("n_raters"),
      expr(s"CAST((ss - n_items * $raters) * 1000000 DIV " +
        s"(n_items * $raters * ${raters - 1}) AS BIGINT)").as("pbar_micro"),
      expr(s"""CAST(CAST(pe_num * 1000000 -
          PMOD(pe_num * 1000000, CAST(n_items AS DECIMAL(38,0)) * $raters * n_items * $raters)
        AS DECIMAL(38,0)) /
        (CAST(n_items AS DECIMAL(38,0)) * $raters * n_items * $raters)
        AS BIGINT)""").as("pe_micro"))
      .withColumn("kappa_micro",
        expr("CAST((pbar_micro - pe_micro) * 1000000 DIV " +
          "(1000000 - pe_micro) AS BIGINT)"))
  }

  /** The q273 driver entry: SPLIT-CONFORMAL CALIBRATION — the
    * distribution-free uncertainty wrapper (Vovk et al.; Angelopoulos
    * & Bates 2022 tutorial) every scored filter can wear: on a
    * calibration split, take the ⌈(n+1)(1−α)⌉-th smallest
    * nonconformity score (the finite-sample-corrected quantile — the
    * +1 is what buys the marginal coverage ≥ 1−α theorem), then audit
    * empirical coverage on the held-out split. Nonconformity of the
    * TRUE class under q212's stopword-ratio scorer: 10⁶−score for
    * en docs, score for non-en (high = the scorer disagrees with the
    * label). Split by doc_id parity (deterministic, disjoint).
    *
    * Everything is integer: the quantile is a NEAREST-RANK order
    * statistic (q260's rule — the value AT rank k, no interpolation,
    * so no engine ever interpolates differently), coverage is an
    * exact count ratio in truncating micros.
    *
    * Scale shape: scoring is one doc pass; the rank is ONE ordered
    * window over the calibration half (the q202 bucketed device is
    * the 100 TB path); the audit is a broadcast 1-row join + count.
    */
  def conformalCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: consumed by the chunked rank (two reads), the count,
    // and the eval side (q291 shared-subtree rule)
    val scored = rocAucScored(spark, sfDir)
      .select(col("doc_id"),
        when(col("is_en"), lit(1000000L) - col("score"))
          .otherwise(col("score")).as("nonconf"),
        (col("doc_id") % 2 === 0).as("is_cal"))
      .localCheckpoint(true)
    val cal = scored.filter(col("is_cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // round-14: the calibration rank through the chunked device —
    // this construction's cal set is a corpus half, not a bounded
    // sample, so the partition-less window was the q303/q304 class
    val qhat = Relational.chunkedRowNumber(cal,
      bucket = Relational.rangeBucket(col("nonconf"), 10000L),
      order = Seq(col("nonconf").asc, col("doc_id").asc))
      .crossJoin(broadcast(nCal))
      .withColumn("k_rank",
        // ceil((n+1)(1-alpha)) for positive ints: (a + 99) DIV 100
        expr("CAST(((n_cal + 1) * 90 + 99) DIV 100 AS BIGINT)"))
      .filter(col("rk") === col("k_rank"))
      .select(col("n_cal"), col("k_rank"), col("nonconf").as("qhat"))
    scored.filter(!col("is_cal"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("n_cal"), col("k_rank"), col("qhat"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("nonconf") <= col("qhat"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("k_rank"), col("qhat"),
        col("n_eval").cast("long").as("n_eval"), col("n_covered"),
        expr("CAST(n_covered * 1000000 DIV n_eval AS BIGINT)")
          .as("coverage_micro"))
  }

  /** The q274 driver entry: CHI-SQUARE INDEPENDENCE TEST on the
    * (source, lang) contingency table — the categorical-drift /
    * stratification-health check (is language mix independent of
    * source?) beside q258's continuous KS. The statistic is exact by
    * cross-multiplication: per cell, (O·n − r·c)² · 10⁶ DIV (r·c·n)
    * — each term an exact integer, summed order-independently;
    * ZERO-observation cells of the R×C spine still contribute
    * (their term is r·c·10⁶ DIV n²·... — algebraically (0·n−r·c)²
    * over r·c·n), which the spine cross-join guarantees. Products
    * run in DECIMAL(38,0)/HUGEINT (the q221 overflow rule: O·n is
    * ~10¹⁸ at corpus scale and gets squared).
    *
    * Scale shape: one (source, lang) partial-agg count (the exchange
    * carries the bounded cell domain), margins reduced from the cell
    * table, an R×C spine built from two tiny broadcast margins — the
    * corpus is scanned exactly once.
    */
  def chiSquareIndependence(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.load(spark, sfDir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val rowM = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val colM = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val spine = rowM.crossJoin(broadcast(colM))
      .join(cells, Seq("source", "lang"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    spine.crossJoin(broadcast(tot))
      .select(col("n"), col("n_sources"), col("n_langs"),
        expr("""CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)
                * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)
                AS DECIMAL(38,0))""").as("d2"),
        expr("CAST(CAST(r AS DECIMAL(38,0)) * c * n AS DECIMAL(38,0))").as("den"))
      // d²·10⁶ would breach even DECIMAL(38)/HUGEINT at corpus scale
      // (d ~ n² ⇒ d² ~ 10³⁶): split the micro-scaling around the
      // division — floor(d²·10⁶/den) = floor(d²/den)·10⁶ +
      // floor((d² mod den)·10⁶/den), every factor ≤ 10³⁶ — exact to
      // n = 10⁹ on both engines (DuckDB replays the same split)
      .select(col("n"), col("n_sources"), col("n_langs"),
        expr("""CAST(
            CAST(CAST(d2 - PMOD(d2, den) AS DECIMAL(38,0)) / den AS BIGINT) * 1000000 +
            CAST(CAST(PMOD(d2, den) * 1000000 -
                PMOD(PMOD(d2, den) * 1000000, den) AS DECIMAL(38,0)) / den AS BIGINT)
          AS BIGINT)""").as("term"))
      .groupBy(col("n"), col("n_sources"), col("n_langs"))
      .agg(sum(col("term")).cast("long").as("chi2_micro"))
      .select(col("n"), col("n_sources").cast("long").as("n_sources"),
        col("n_langs").cast("long").as("n_langs"), col("chi2_micro"),
        expr("CAST((n_sources - 1) * (n_langs - 1) AS BIGINT)").as("dof"))
  }

  /** The q275 driver entry: AVERAGE PRECISION (area under the PR
    * curve) for the q212 scorer — the metric that matters when
    * positives are rare and ROC-AUC (q212) flatters: AP weights
    * precision AT each relevant rank, so early false positives cost
    * where ROC barely moves. Ranking is the deterministic total order
    * (score DESC, doc_id ASC — the q233 convention), and each term is
    * the per-rank truncating division (cum_pos·10⁶) DIV rank — the
    * q252 RRF device, making the SUM order-independent and the whole
    * statistic exact integer: ap_micro = Σ_terms DIV n_pos.
    *
    * Scale shape: like q233/q228, this is an EVALUATION metric — the
    * frame is an eval set, not the corpus, so the single global rank
    * window is the definition, not an accident (same bounded-domain
    * rationale documented at q233). For corpus-scale ranking exports
    * the q200 chunked-scan device applies.
    */
  def averagePrecision(spark: SparkSession, sfDir: String): DataFrame = {
    // round-14: the global rank AND the running positive count both
    // ride the chunked devices over the same bounded micro-score
    // buckets (rank, then exclusive prefix sum + own value = the
    // inclusive cumulative) — the doc-grain frame here is the scored
    // corpus, so the partition-less windows were the q303/q304 class
    val scored = rocAucScored(spark, sfDir).localCheckpoint(true)
    val bucket = Relational.rangeBucket(col("score"), 10000L, descending = true)
    val ord = Seq(col("score").desc, col("doc_id").asc)
    val ranked = Relational.chunkedPrefixSum(
      Relational.chunkedRowNumber(scored, bucket, ord)
        .localCheckpoint(true),
      bucket, ord,
      value = when(col("is_en"), 1L).otherwise(0L), out = "pos_before")
      .withColumn("cum_pos",
        col("pos_before") + when(col("is_en"), 1L).otherwise(0L))
    ranked.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("n_pos"),
        sum(when(col("is_en"),
            expr("CAST(cum_pos * 1000000 DIV rk AS BIGINT)"))
          .otherwise(0L)).cast("long").as("ap_sum_micro"))
      .select(col("n_docs"), col("n_pos"), col("ap_sum_micro"),
        expr("CAST(ap_sum_micro DIV n_pos AS BIGINT)").as("ap_micro"))
  }

  /** The q276 driver entry: MANN-WHITNEY U — the distribution-free
    * two-sample test beside q129's parametric z-test and q258's KS:
    * do English-detected docs score differently than the rest,
    * judged on RANKS alone? Reuses the q212 grouped-by-score device:
    * with c docs and p positives at one score, the doubled mid-rank
    * is (2·cum + c + 1), so 2·R₁ and 2·U₁ are exact BIGINTs without
    * ever materializing per-row ranks; the tie term Σ(t³−t) comes
    * from the same bounded by-score frame.
    *
    * Significance is reported as z²·10⁶ folded to ONE exact
    * truncating division — z² = 3·dev2²·n(n−1) / (n₁n₂·T) with
    * T = n(n−1)(n+1) − Σ(t³−t) and dev2 = 2U₁ − n₁n₂ — in
    * DECIMAL(38,0)/HUGEINT (numerator ≤ ~10³⁵ at sf0.1; breaches 38
    * digits only past ~10⁶ docs, documented like the q221 rule). No
    * sqrt, no float accumulation, engine-exact.
    *
    * Scale shape: one doc pass into the by-score aggregate (score
    * domain ≤ 10⁶ micros), then scalar arithmetic on one row.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = scoreRanked(spark, sfDir)
    ranked.agg(
        sum(col("p")).cast("long").as("n_pos"),
        (sum(col("c")) - sum(col("p"))).cast("long").as("n_neg"),
        sum(col("p") * (lit(2L) * col("cum") + col("c") + lit(1L)))
          .cast("long").as("r2_pos"),
        sum(col("c") * col("c") * col("c") - col("c")).cast("long")
          .as("tie_cubes"))
      .select(col("n_pos"), col("n_neg"),
        expr("CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT)").as("u2"),
        col("tie_cubes"))
      .select(col("n_pos"), col("n_neg"), col("u2"), col("tie_cubes"),
        expr("CAST(u2 - n_pos * n_neg AS BIGINT)").as("dev2"),
        expr("""CAST((n_pos + n_neg) * (n_pos + n_neg - 1) *
            (n_pos + n_neg + 1) - tie_cubes AS BIGINT)""").as("tie_term"))
      .select(col("n_pos"), col("n_neg"), col("u2"), col("tie_cubes"),
        col("dev2"), col("tie_term"),
        when(col("n_pos") === 0 || col("n_neg") === 0 ||
            col("tie_term") === 0, lit(-1L))
          .otherwise(expr("""CAST(
              CAST(3000000 AS DECIMAL(38,0)) * dev2 * dev2 *
                (n_pos + n_neg) * (n_pos + n_neg - 1) DIV
              (CAST(n_pos AS DECIMAL(38,0)) * n_neg * tie_term)
            AS BIGINT)""")).as("z2_micro"))
  }

  /** The q278 driver entry: ISOTONIC CALIBRATION (PAV fit) — the
    * monotone recalibration map for the q212 scorer that q218's
    * reliability diagram motivates: pool-adjacent-violators over the
    * ten score deciles, computed NOT as the sequential pooling loop
    * but by its closed-form minimax characterization
    *   fit_i = max_{j<=i} min_{k>=i} (pos[j..k] / n[j..k])
    * — pure relational algebra over the bounded bin domain (10³ block
    * combinations, all broadcast), no driver iteration, no float.
    *
    * Fractions are compared by the EXACT ORDER KEY (p·10¹²) DIV n:
    * two distinct fractions with denominators ≤ 10⁶ differ by at
    * least 10⁻¹², so the scaled floor separates them — and the final
    * fit renders by the nested-floor identity
    * (key DIV 10⁶) == floor(p·10⁶/n). Valid to n = 10⁶ calibration
    * rows per the same documented-bound rule as q221 (beyond that,
    * lift the key into DECIMAL(38,0) at scale 10¹⁸).
    *
    * Scale shape: one doc pass into the 10-bin aggregate; everything
    * after lives on the bin domain.
    */
  def isotonicCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val bins = rocAucScored(spark, sfDir)
      .select(least(floor(col("score").cast("double") / 100000.0)
        .cast("long"), lit(9L)).as("bin"), col("is_en"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cn", sum(col("n")).over(w).cast("long"))
      .withColumn("cp", sum(col("pos")).over(w).cast("long"))
    val blocks = cum.select(col("bin").as("jbin"),
        (col("cn") - col("n")).as("cn_before"),
        (col("cp") - col("pos")).as("cp_before"))
      .crossJoin(broadcast(cum.select(col("bin").as("kbin"),
        col("cn").as("cn_k"), col("cp").as("cp_k"))))
      .filter(col("jbin") <= col("kbin"))
      .select(col("jbin"), col("kbin"),
        expr("""CAST((cp_k - cp_before) * 1000000000000 DIV
            (cn_k - cn_before) AS BIGINT)""").as("key"))
    val fit = cum.select(col("bin"))
      .join(blocks, col("jbin") <= col("bin") && col("kbin") >= col("bin"))
      .groupBy(col("bin"), col("jbin")).agg(min(col("key")).as("mk"))
      .groupBy(col("bin")).agg(max(col("mk")).as("fit_key"))
    cum.join(fit, Seq("bin"))
      .select(col("bin"), col("n").cast("long").as("n"),
        col("pos").cast("long").as("pos"),
        expr("CAST(pos * 1000000 DIV n AS BIGINT)").as("raw_micro"),
        expr("CAST(fit_key DIV 1000000 AS BIGINT)").as("fit_micro"))
  }

  private[graft] val markovAttributionRounds = 40

  /** The q300 driver entry: MARKOV REMOVAL-EFFECT ATTRIBUTION — the
    * third leg of the attribution trilogy (q130 last-touch heuristic,
    * q286 Shapley over exposure SETS): the Anderl et al. 2014
    * first-order Markov model works on journey ORDER — states are
    * start/channels/conversion/null, transition counts come from
    * observed pre-conversion paths, and a channel's credit is its
    * REMOVAL EFFECT: how much the start→conversion absorption
    * probability drops when journeys through that channel are cut
    * (its edges redirected to null). Captures sequence position
    * (an assist that only ever leads to dead ends earns nothing)
    * where set-based Shapley cannot.
    *
    * Exactness (the q232 integer device end-to-end): absorption
    * probabilities by T = 40 rounds of value iteration in micro
    * units, each update Σ_b (cnt(a→b)·P_b) DIV out(a) with per-term
    * truncating division — order-independent BIGINT sums, the
    * monotone-from-below iteration, identical in both engines (the
    * oracle replays all rounds for ALL removal variants at once as
    * generated MATERIALIZED CTEs over a variant-aware edge table).
    * T is a shared constant; parity needs the same T, not the
    * fixpoint, and the spec pins near-convergence.
    *
    * Scale shape: one user-keyed window pass builds transitions;
    * the count matrix lives on the bounded (channels+3)² domain and
    * collects driver-side (q232/q270 rule); iteration cost is
    * corpus-independent.
    */
  def markovAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
    val users = ev.select(col("user_id")).distinct()
      .join(firstP, Seq("user_id"), "left")
      .withColumn("outcome", when(col("fp").isNotNull, "CONV")
        .otherwise("NULL"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pre = ev.filter(col("event_type") =!= "purchase")
      .join(firstP, Seq("user_id"), "left")
      .filter(col("fp").isNull || col("ts") < col("fp"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("ch"))
      .withColumn("nxt", lead(col("ch"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .join(users.select(col("user_id"), col("outcome")), "user_id")
    val tFromChannels = pre.select(col("ch").as("src"),
      coalesce(col("nxt"), col("outcome")).as("dst"))
    val tStart = pre.filter(col("rn") === 1)
      .select(lit("S").as("src"), col("ch").as("dst"))
      .unionByName(users.join(
        pre.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
        .select(lit("S").as("src"), col("outcome").as("dst")))
    val counts = tFromChannels.unionByName(tStart)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2))).toMap
    // channels = observed SOURCE states besides S (every channel
    // event emits a src edge, so dst-only channels cannot exist;
    // the oracle derives the set the same way)
    val channels = counts.keysIterator.map(_._1)
      .filter(_ != "S").toSeq.distinct.sorted
    val outN: Map[String, Long] = counts.groupBy(_._1._1)
      .map { case (a, g) => a -> g.values.sum }
    // value iteration for one variant (removed channel or None):
    // edges INTO the removed channel redirect to NULL (p = 0)
    def absorb(removed: Option[String]): Long = {
      val nonAbs = "S" +: channels.filterNot(removed.contains)
      var p: Map[String, Long] =
        (nonAbs.map(_ -> 0L) :+ ("CONV" -> 1000000L) :+
          ("NULL" -> 0L)).toMap ++ removed.map(_ -> 0L)
      for (_ <- 1 to markovAttributionRounds) {
        p = p ++ nonAbs.map { a =>
          // empty input leaves S with no out-edges: p stays 0
          val o = outN.getOrElse(a, 1L)
          a -> counts.collect { case ((s, d), c) if s == a =>
            val dEff = if (removed.contains(d)) "NULL" else d
            c * p(dEff) / o
          }.sum
        }.toMap
      }
      p("S")
    }
    val base = absorb(None)
    channels.map { c =>
      val pc = absorb(Some(c))
      (c, base, pc,
        if (base == 0L) 0L else (base - pc) * 1000000L / base)
    }.toDF("channel", "base_p_micro", "removed_p_micro", "re_ppm")
  }

  /** The q291 driver entry: ITEM-ITEM COSINE NEIGHBORS — the
    * classical co-occurrence collaborative-filtering prep (the
    * "customers who bought X also bought Y" table) that q133's raw
    * pair counts feed: cosine-normalized co-occurrence
    * cij/√(ci·cj) ranks neighbors fairly across popularity (raw
    * counts hand every item the same blockbuster neighbors), then
    * top-k per item is the serving artifact. Squared cosine in
    * exact ppt — cij²·10¹² DIV (ci·cj) in DECIMAL(38)/HUGEINT (the
    * q221 overflow rule) — ranks identically to cosine (both sides
    * nonnegative, squaring monotone), so no sqrt ever runs.
    *
    * Scale shape: the pair fan-out is per-order and bounded by
    * basket size (q133's device — never item×item); the noise
    * floor (cij ≥ 2) prunes the singleton tail BEFORE the
    * normalization join; top-k is a rank-≤-k window per item
    * (InferWindowGroupLimit bounds shuffled rows at k per key).
    */
  def itemNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
      .distinct()
    val ci = b.groupBy(col("i")).agg(count(lit(1)).cast("long").as("ci"))
    // materialized once: the symmetrization below reads it twice,
    // and recomputing the basket self-join is the expensive stage
    val pairs = b.as("a")
      .join(b.as("bb"), col("a.o") === col("bb.o") &&
        col("a.i") < col("bb.i"))
      .groupBy(col("a.i").as("x"), col("bb.i").as("y"))
      .agg(count(lit(1)).cast("long").as("cij"))
      .filter(col("cij") >= 2)
      .localCheckpoint(true)
    val sym = pairs.select(col("x").as("item"), col("y").as("nb"),
        col("cij"))
      .unionByName(pairs.select(col("y").as("item"), col("x").as("nb"),
        col("cij")))
    sym
      .join(ci.select(col("i").as("item"), col("ci").as("c_item")), "item")
      .join(ci.select(col("i").as("nb"), col("ci").as("c_nb")), "nb")
      .withColumn("sim2_ppt", expr(
        """CAST(CAST(cij AS DECIMAL(38,0)) * cij * 1000000000000
           DIV (CAST(c_item AS DECIMAL(38,0)) * c_nb) AS BIGINT)"""))
      .withColumn("rk", row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("sim2_ppt").desc, col("nb").asc)).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("item"), col("rk"), col("nb"), col("cij"),
        col("c_item"), col("c_nb"), col("sim2_ppt"))
  }

  /** The q288 driver entry: QUANTILE TREATMENT EFFECTS — the
    * heterogeneous-effect readout q129's mean z-test cannot give:
    * an experiment that lifts the median while gutting the top
    * decile (or vice versa) reads as "no effect" on averages, so
    * serious experimentation reads the DIFFERENCE OF ARM QUANTILES
    * across the distribution (Lehmann–Doksum QTE). Units are users
    * under the q129 hash split; the metric is total purchase spend
    * in exact cents (zero for non-purchasers — intent-to-treat);
    * each decile is the nearest-rank value ⌈p·n/100⌉ per arm (the
    * q260 device), so every number is an observed value, no
    * interpolation, no floats anywhere.
    *
    * Scale shape: one user-grain aggregate, then per-arm rank
    * windows over the 2-arm bounded partitioning and a 9-row decile
    * spine join — at corpus scale the q279 histogram-refine device
    * replaces the per-arm sort windows (noted there for the same
    * reason).
    */
  def quantileTreatmentEffects(
      spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
        floor(col("value") * 100.0 + 0.5).cast("long"))), lit(0L))
        .as("cents"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val ranked = spend
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("variant"))
          .orderBy(col("cents").asc, col("user_id").asc)).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("variant"))).cast("long"))
    val deciles = spark.range(1, 10)
      .select((col("id") * 10).cast("long").as("pct"))
    val picks = ranked
      .join(broadcast(deciles),
        col("rk") === expr("CAST((pct * n + 99) DIV 100 AS BIGINT)"))
      .groupBy(col("pct"))
      .agg(max(when(col("variant") === 1, col("cents"))).as("treat_cents"),
        max(when(col("variant") === 0, col("cents"))).as("control_cents"),
        max(when(col("variant") === 1, col("n"))).as("n_treat"),
        max(when(col("variant") === 0, col("n"))).as("n_control"))
    picks.select(col("pct"),
      col("n_treat").cast("long").as("n_treat"),
      col("n_control").cast("long").as("n_control"),
      col("treat_cents").cast("long").as("treat_cents"),
      col("control_cents").cast("long").as("control_cents"),
      (col("treat_cents") - col("control_cents")).cast("long")
        .as("diff_cents"))
  }

  /** The q287 driver entry: CROSS-SOURCE QUANTILE ALIGNMENT (CDF
    * matching) — the score-normalization step a multi-source corpus
    * needs before one threshold can govern all feeds: the same
    * quality scorer reads systematically different on different
    * sources (length and style shift the stopword density), so raw
    * cross-source cutoffs keep junk from lenient-scoring feeds and
    * drop good docs from strict ones. The classical fix is quantile
    * mapping: a doc at rank r of m within its source maps to the
    * REFERENCE source's value at nearest rank ⌈r·n_ref/m⌉ — after
    * alignment, equal scores mean equal within-source standing.
    * NOTE the mapped population is ALL docs of a source while the
    * reference spine is its is_en slice, so reference-source docs do
    * NOT in general map to themselves (identity would hold only when
    * the two populations coincide); the spec pins an independent
    * replay and per-source monotonicity instead (round-13 advice).
    *
    * Exactness: ranks are row_number under the (score, doc_id) total
    * order; the target rank is one ceiling division of positive
    * BIGINTs ((r·n+m−1) DIV m); aligned values come from an
    * equi-join on the reference rank — no interpolation, no floats.
    *
    * Scale shape: two per-source rank windows (source-keyed
    * exchanges; at corpus scale the q202 chunked dense-rank device
    * replaces them) and one rank-keyed equi-join against the
    * reference spine; n_ref rides in as a broadcast 1-row frame.
    */
  def quantileAlign(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: consumed by the per-source ranks, the ref-slice chunked
    // rank (which reads its input twice), and the totals — without
    // the pin the scoring subtree re-evaluates per consumer (q291
    // shared-subtree rule)
    val s = rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score"), col("is_en"))
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source")), "doc_id")
      .localCheckpoint(true)
    val ranked = s
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("score").asc, col("doc_id").asc)).cast("long"))
      .withColumn("m", count(lit(1))
        .over(Window.partitionBy(col("source"))).cast("long"))
    // reference distribution: the english-detected slice of the
    // reference feed (the audited gold population) — deliberately a
    // different size than any source stratum, so the ceiling rescale
    // genuinely fires
    // round-14: the reference-slice rank is corpus-grain at scale —
    // chunked device instead of a partition-less window (q303/q304
    // hazard class; the per-source ranks above are already keyed)
    val ref = Relational.chunkedRowNumber(
      s.filter(col("source") === "src0" && col("is_en")),
      bucket = Relational.rangeBucket(col("score"), 1024L),
      order = Seq(col("score").asc, col("doc_id").asc), out = "ref_rk")
      .select(col("ref_rk"), col("score").as("aligned_score"))
    val nRef = ref.agg(count(lit(1)).cast("long").as("n_ref"))
    ranked.crossJoin(broadcast(nRef))
      .withColumn("ref_rk",
        expr("CAST((rk * n_ref + m - 1) DIV m AS BIGINT)"))
      .join(ref, Seq("ref_rk"))
      .select(col("doc_id"), col("source"), col("score").as("raw_score"),
        col("rk").as("src_rank"), col("aligned_score"))
  }

  /** The q286 driver entry: SHAPLEY-VALUE CHANNEL ATTRIBUTION — the
    * game-theoretic upgrade of q130's last-touch heuristic (Shao &
    * Li 2011, the model behind data-driven attribution products):
    * each user's pre-conversion exposure SET of channels defines a
    * coalition; the characteristic function v(S) is the observed
    * conversion rate of users exposed to exactly S; each channel's
    * credit is its Shapley value over that game — the unique
    * attribution satisfying efficiency/symmetry/dummy, where
    * last-touch provably over-credits bottom-funnel channels.
    *
    * Exactness: v(S) folds to integer micros (c·10⁶ DIV m, both
    * nonnegative — no division-sign hazard); the Shapley sum is
    * emitted as its EXACT INTEGER NUMERATOR Σ_S |S|!(n−1−|S|)!·
    * (vμ(S∪i) − vμ(S)) beside the n! denominator — no float, no
    * truncating division of a signed quantity, order-independent.
    * Unobserved subsets take v = 0 (the Shao–Li convention).
    *
    * Scale shape: the corpus-scale work is one first-purchase
    * aggregate and one exposure-set aggregate, both user-keyed; the
    * subset lattice is 2^|channels| over the BOUNDED type domain, so
    * it collects driver-side (q270's bounded-matrix rule) and the
    * Shapley arithmetic costs nothing. At 100 TB nothing but the two
    * user-grain exchanges touches the events.
    */
  def shapleyAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
    val channels: Seq[String] = ev
      .filter(col("event_type") =!= "purchase")
      .select(col("event_type")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val exposure = ev.filter(col("event_type") =!= "purchase")
      .join(firstP, Seq("user_id"), "left")
      .filter(col("fp").isNull || col("ts") < col("fp"))
      .groupBy(col("user_id"))
      .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
        .as("key"))
    val stats = ev.select(col("user_id")).distinct()
      .join(exposure, Seq("user_id"), "left")
      .join(firstP.select(col("user_id"), lit(1L).as("conv")),
        Seq("user_id"), "left")
      .groupBy(coalesce(col("key"), lit("")).as("key"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(coalesce(col("conv"), lit(0L))).cast("long").as("c"))
      .collect()
      .map(r => (r.getString(0).split(",").filter(_.nonEmpty).toSet,
        (r.getLong(1), r.getLong(2)))).toMap
    val n = channels.length
    def fact(x: Int): Long = (1 to x).map(_.toLong).product
    def vmu(s: Set[String]): Long =
      stats.get(s).map { case (m, c) => c * 1000000L / m }.getOrElse(0L)
    channels.map { ch =>
      val others = channels.filterNot(_ == ch)
      var phi = 0L
      for (mask <- 0 until (1 << (n - 1))) {
        val s = others.zipWithIndex
          .collect { case (c2, i) if ((mask >> i) & 1) == 1 => c2 }.toSet
        phi += fact(s.size) * fact(n - 1 - s.size) * (vmu(s + ch) - vmu(s))
      }
      val nExp = stats.collect {
        case (s, (m, _)) if s.contains(ch) => m }.sum
      (ch, nExp, phi, n.toLong)
    }.toDF("channel", "n_exposed", "phi_num", "n_channels")
  }

  /** The q277 driver entry: MAD ROBUST OUTLIER GATE — the
    * median-absolute-deviation screen that survives exactly the heavy
    * tails that break a mean/stddev z-score (one whale purchase
    * inflates σ until nothing flags; the median barely moves). Per
    * event type over exact spend cents: lower-median by the q260
    * nearest-rank device (the value at rank ⌈n/2⌉ — no
    * interpolation), MAD = the same rank over |x − med|, and the
    * modified z-score gate |x − med|·6745 > 35000·MAD (Iglewicz-
    * Hoaglin 0.6745·dev/MAD > 3.5, cross-multiplied — no division,
    * no floats). MAD = 0 (over half the values at the median) flags
    * any deviation, the conventional degenerate reading.
    *
    * Scale shape: two rank windows partitioned by type + one
    * aggregate — three exchanges all keyed on the bounded type
    * domain; at 100 TB the q279 histogram-refine device replaces the
    * per-type sort windows.
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val wt = Window.partitionBy(col("event_type"))
    val wr = wt.orderBy(col("cents").asc)
    val med = ev
      .withColumn("rk", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wt).cast("long"))
      .withColumn("med",
        max(when(col("rk") * 2 <= col("n") + 1, col("cents"))).over(wt))
    val wd = wt.orderBy(abs(col("cents") - col("med")).asc)
    val mad = med
      .withColumn("drk", row_number().over(wd).cast("long"))
      .withColumn("mad",
        max(when(col("drk") * 2 <= col("n") + 1,
          abs(col("cents") - col("med")))).over(wt))
    mad.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        max(col("med")).cast("long").as("med_cents"),
        max(col("mad")).cast("long").as("mad_cents"),
        sum(when(abs(col("cents") - col("med")) * 6745 >
            col("mad") * 35000, 1L).otherwise(0L)).cast("long")
          .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med_cents"),
        col("mad_cents"), col("n_outliers"),
        expr("CAST(n_outliers * 1000000 DIV n AS BIGINT)")
          .as("outlier_ppm"))
  }
  private[graft] val passAtKs = Seq(1, 5, 10)
  private[graft] val passAtCentsThreshold = 5000L

  /** The q325 driver entry: PASS@K ESTIMATOR — the unbiased
    * best-of-n evaluation statistic of Chen et al. 2021 (Codex,
    * eq. 1): a task with n sampled attempts of which c are correct
    * has pass@k = 1 − C(n−c, k)/C(n, k), computed in the numerically
    * stable product form 1 − Π_{i=0..k−1} (n−c−i)/(n−i) (the paper's
    * own implementation note — binomials overflow where the product
    * does not). Tasks here are users, attempts their events, and
    * "correct" is the exact-cents threshold (≥ `centsThreshold`), so
    * n and c are exact integers and the product is a fixed
    * left-to-right chain of k literal-indexed factors — the
    * identical-tree double device (both engines multiply the same
    * exact-integer ratios in the same order, then floor once to ppm).
    * A factor with n−c−i ≤ 0 short-circuits the whole product to 0
    * exactly (every k-subset contains a correct attempt: pass@k = 1).
    *
    * Scale shape: ONE map-side-combined user-grain aggregate over the
    * fact table; the per-k product is row-local arithmetic on that
    * bounded (user × k) grain. No windows, no joins.
    */
  def passAtK(
      spark: SparkSession, sfDir: String,
      ks: Seq[Int] = passAtKs,
      centsThreshold: Long = passAtCentsThreshold): DataFrame = {
    val per = Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("cents") >= centsThreshold, 1L).otherwise(0L))
          .cast("long").as("c"))
    ks.map { k =>
      val prod = (0 until k).map(i =>
        s"(CASE WHEN n - c - $i <= 0 THEN 0.0 ELSE " +
          s"CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE) END)")
        .mkString(" * ")
      per.where(col("n") >= k)
        .select(col("user_id"), lit(k.toLong).as("k"), col("n"), col("c"),
          expr(s"CAST(floor(1000000.0 * (1.0 - $prod)) AS BIGINT)")
            .as("pass_ppm"))
    }.reduce(_ unionByName _)
  }

  /** The q331 driver entry: FEATURE DISTRIBUTION DRIFT MONITOR — the
    * standing alarm between a model's training window and its serving
    * window (the PSI/KS check every feature store schedules; TVD is
    * the metric here because it is EXACTLY computable in integers —
    * PSI's logarithms would put a libm transcendental on both sides
    * of the engine boundary): the event stream splits at its time
    * midpoint into an EARLY (training-era) and LATE (serving-era)
    * half, each event_type's value distribution lands in 10
    * fixed-width cent buckets over the global [min, max], and drift
    * per type is the total-variation distance between the two halves'
    * bucket shares: TVD_ppm = Σ_b |p_b − q_b| / 2 over ppm shares
    * (one truncating DIV per share, the per-term order-free
    * discipline). `flagged` fires past 50000 ppm — the retrain/alert
    * threshold.
    *
    * Scale shape: one tiny global bounds aggregate broadcast back,
    * then ONE map-side-combined (type, bin) count with conditional
    * sums — the only fact-scale exchange; everything downstream lives
    * on the bounded (type × bins) domain. No windows at all.
    */
  def featureDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("tm"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val bounds = ev.agg(
      min(col("tm")).as("tmin"), max(col("tm")).as("tmax"),
      min(col("cents")).as("cmin"), max(col("cents")).as("cmax"))
    val binned = ev.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        (col("tm") * 2 <= col("tmin") + col("tmax")).as("early"),
        expr("(cents - cmin) * 10 DIV (cmax - cmin + 1)").as("bin"))
    val cells = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).cast("long").as("ce"),
        sum(when(!col("early"), 1L).otherwise(0L)).cast("long").as("cl"))
    val totals = binned.groupBy(col("event_type"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).cast("long")
          .as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).cast("long")
          .as("n_late"))
    cells.join(totals, "event_type")
      .select(col("event_type"), col("n_early"), col("n_late"),
        abs(expr("ce * 1000000 DIV n_early") -
          expr("cl * 1000000 DIV n_late")).as("gap"))
      .groupBy(col("event_type"), col("n_early"), col("n_late"))
      .agg(expr("CAST(SUM(gap) DIV 2 AS BIGINT)").as("tvd_ppm"),
        max(col("gap")).cast("long").as("max_gap_ppm"))
      .withColumn("flagged", col("tvd_ppm") > 50000L)
  }

  /** The logged-policy census of q337 and q343: per (user, action)
    * counts n_ua and cent rewards r_ua, per-user counts n_u, and the
    * one-row total n. The Spark twin of the oracle's `policyLogCtes`.
    */
  private def policyLog(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val ua = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_ua"),
        sum(col("cents")).cast("long").as("r_ua"))
    val perUser = ua.groupBy(col("user_id"))
      .agg(sum(col("n_ua")).cast("long").as("n_u"))
    (ua, perUser, perUser.agg(sum(col("n_u")).cast("long").as("n")))
  }

  /** The q337 driver entry: OFF-POLICY EVALUATION by inverse
    * propensity scoring — the counterfactual "what if we always
    * served action a" table every recommendation/RLHF team reads
    * before an online test (Horvitz–Thompson IPS and its
    * self-normalized SNIPS variant, Swaminathan & Joachims 2015).
    * Contexts are users, actions the event types, rewards exact
    * cents; the behavior policy is ESTIMATED from its own logs
    * (empirical propensity μ(a|x) = n_{x,a}/n_x — the standard move
    * when the logger kept no propensities), so the IPS weight for a
    * logged (x, a) event is the exact rational n_x/n_{x,a}, carried
    * as one milli-scaled truncating DIV per (x, a) cell (the
    * per-term-truncation discipline; both engines truncate the SAME
    * cell, so the estimates agree bit-for-bit). Per action:
    * `dm_cents` the direct-method mean over its own logs,
    * `ips_milli_cents` = Σ w·r DIV n (value per LOGGED event under
    * always-a, milli-cents), `snips_cents` = Σ w·r DIV Σ w — the
    * self-normalized estimate, immune to the weight-mass deficit
    * that plain IPS inherits from users who never took a
    * (`weight_mass_e3` exposes exactly that diagnostic: ≈ n·10³ only
    * when every user tried the action).
    *
    * Scale shape: ONE map-side-combined (user, action) aggregate is
    * the only fact-scale exchange; the per-user totals derive from it
    * by a second tiny aggregate and rejoin on the user grain, and the
    * final table lives on the bounded action domain. No windows.
    */
  def ipsPolicyEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (ua, perUser, n) = policyLog(spark, sfDir)
    ua.join(perUser, "user_id")
      .select(col("event_type"), col("n_ua"), col("r_ua"),
        expr("n_u * 1000 DIV n_ua").as("w_e3"))
      .crossJoin(broadcast(n))
      .groupBy(col("event_type"))
      .agg(sum(col("n_ua")).cast("long").as("n_logged"),
        expr("CAST(SUM(r_ua) DIV SUM(n_ua) AS BIGINT)").as("dm_cents"),
        sum(col("w_e3") * col("n_ua")).cast("long").as("weight_mass_e3"),
        expr("CAST(SUM(w_e3 * r_ua) DIV MAX(n) AS BIGINT)")
          .as("ips_milli_cents"),
        expr("CAST(SUM(w_e3 * r_ua) DIV SUM(w_e3 * n_ua) AS BIGINT)")
          .as("snips_cents"))
  }

  /** The q338 driver entry: BEST-OF-N REWARD SCALING CURVE — the
    * exact expected value of rejection sampling (take n draws, keep
    * the best) against a reward distribution, the curve that prices
    * best-of-n inference and reward-model overoptimization studies
    * (Gao et al. 2023 read it off before the KL term matters). For
    * the empirical distribution of a FIXED pool of N logged samples
    * per arm, E[max of n iid draws] = Σⱼ r₍ⱼ₎·(jⁿ − (j−1)ⁿ)/Nⁿ over
    * the sorted pool — exact BIGINT combinatorics when n and N are
    * bounded (N = 256, n ∈ {1,2,4}: the largest
    * term is r·4·256³ ≈ 7·10¹³, far inside int64). The pool is the
    * FIRST N events per arm in event_id order (arrival order, not
    * value order — a value-ranked pool would bias the curve), and
    * n = 1 must reproduce the pool mean EXACTLY (the telescoping law
    * Σ r·(j − (j−1)) = Σ r, same trailing DIV) — a built-in
    * self-check the spec pins.
    *
    * Scale shape: one arm-partitioned rank window prunes to the
    * bounded N-per-arm pool (WindowGroupLimit pushes rk ≤ N below
    * the sort at the scan, the q250 device); the second rank window
    * and the per-n sums then live on the bounded (arm × N) grain.
    */
  def bestOfN(spark: SparkSession, sfDir: String): DataFrame = {
    val wArr = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id").asc)
    val wVal = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").asc, col("srk").asc)
    val pool = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("srk", row_number().over(wArr).cast("long"))
      .where(col("srk") <= 256)
      .withColumn("j", row_number().over(wVal).cast("long"))
    // denominators use the ACTUAL pool count per arm (an arm with
    // fewer than 256 logged events has a smaller empirical pool)
    val mean = pool.groupBy(col("event_type"))
      .agg(expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)")
        .as("mean_cents"))
    val bon = Seq(1, 2, 4).map { k =>
      val pow = (j: String) => Seq.fill(k)(j).mkString(" * ")
      pool.groupBy(col("event_type"))
        .agg(expr(s"""CAST(SUM(cents * (${pow("j")} - ${pow("(j - 1)")}))
            DIV (${pow("COUNT(*)")}) AS BIGINT)""").as("bon_cents"))
        .withColumn("k", lit(k.toLong))
    }.reduce(_ unionByName _)
    bon.join(mean, "event_type")
      .select(col("event_type"), col("k"), col("mean_cents"),
        col("bon_cents"),
        (col("bon_cents") - col("mean_cents")).as("lift_cents"))
  }

  /** The q339 driver entry: ARENA LEADERBOARD — the nonparametric
    * pairwise-preference ranking of a model arena (Chatbot-Arena
    * style), complementing q270's Bradley–Terry MLE with the two
    * classical order statistics that need NO model: per ordered pair
    * of arms (event types), each user with both arms in their log is
    * a judge, and arm a beats arm b for that judge iff its mean
    * reward is higher — compared EXACTLY by cross-multiplication
    * (rₐ·n_b > r_b·nₐ, no division). The duel matrix then yields
    * `borda` (total pairwise wins), `win_ppm`, `copeland_x2`
    * (2 per majority win + 1 per drawn duel — integer-scaled to
    * avoid the ½ convention), `is_condorcet` (beats every other arm
    * outright), and `n_cycles` — the count of majority 3-cycles, the
    * intransitivity audit that tells you whether a total order even
    * exists before you fit one.
    *
    * Scale shape: the fact table collapses to the (user, arm)
    * grain in one map-side-combined exchange; duels are a self-join
    * keyed on user_id at that bounded grain (each user holds ≤ K
    * arms, so the join fans out K² per user, K bounded); everything
    * after — majority digraph, triangle count — lives on the K-node
    * arm domain. The cycle join is K³ on single-digit K, a constant.
    */
  def arenaLeaderboard(spark: SparkSession, sfDir: String): DataFrame =
    arenaFromJudgments(Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("r")))

  /** The q339 core over an already-aggregated judgment frame
    * `(user_id, event_type, n, r)` — split out so the cycle-audit arm
    * (vacuous on the acyclic fixture) is provable on a synthetic
    * rock-paper-scissors frame through the SAME plan.
    */
  def arenaFromJudgments(ua: DataFrame): DataFrame = {
    val a = ua.select(col("user_id"), col("event_type").as("ma"),
      col("n").as("na"), col("r").as("ra"))
    val b = ua.select(col("user_id"), col("event_type").as("mb"),
      col("n").as("nb"), col("r").as("rb"))
    val duels = a.join(b, Seq("user_id"))
      .where(col("ma") =!= col("mb"))
      .groupBy(col("ma"), col("mb"))
      .agg(sum(when(col("ra") * col("nb") > col("rb") * col("na"), 1L)
          .otherwise(0L)).cast("long").as("wins"),
        sum(when(col("ra") * col("nb") === col("rb") * col("na"), 1L)
          .otherwise(0L)).cast("long").as("ties"),
        count(lit(1)).cast("long").as("n_judges"))
    val opp = duels.select(col("ma").as("mb"), col("mb").as("ma"),
      col("wins").as("owins"))
    val majority = duels.join(opp, Seq("ma", "mb"))
      .select(col("ma"), col("mb"), col("wins"), col("n_judges"),
        when(col("wins") > col("owins"), 1L).otherwise(0L).as("beats"),
        when(col("wins") === col("owins"), 1L).otherwise(0L).as("drawn"))
    val e = majority.where(col("beats") === 1L)
      .select(col("ma"), col("mb"))
    val cycles = e.as("e1")
      .join(e.as("e2"), col("e2.ma") === col("e1.mb"))
      .join(e.as("e3"), col("e3.ma") === col("e2.mb") &&
        col("e3.mb") === col("e1.ma"))
      .agg(coalesce(expr("CAST(COUNT(*) DIV 3 AS BIGINT)"), lit(0L))
        .as("n_cycles"))
    majority.groupBy(col("ma").as("model"))
      .agg(sum(col("wins")).cast("long").as("borda"),
        expr("CAST(SUM(wins) * 1000000 DIV SUM(n_judges) AS BIGINT)")
          .as("win_ppm"),
        (sum(col("beats")) * 2 + sum(col("drawn"))).cast("long")
          .as("copeland_x2"),
        (sum(col("beats")) === count(lit(1))).as("is_condorcet"))
      .crossJoin(broadcast(cycles))
  }

  /** The q340 driver entry: RLOO / GRPO-style GROUP-RELATIVE
    * ADVANTAGES — the per-completion credit signal of
    * REINFORCE-leave-one-out (Kool 2019, Ahmadian 2024) and the
    * rank-centered variant GRPO-style trainers use when rewards are
    * only ordinal. Groups are users (a "prompt"), completions their
    * logged events, rewards exact cents. For a group of size N ≥ 2:
    * the RLOO advantage r_i − mean(r_{-i}) equals (N·r_i − Σr)/(N−1)
    * — emitted as `rloo_adv_milli` with ONE trailing signed
    * truncating DIV (Spark DIV and DuckDB `//` both truncate toward
    * zero on signed operands — probed, and the replay spec re-pins
    * it). The ordinal twin `centered_rank_x2` = (N+1) − 2·rank
    * (reward desc, event_id asc) is pure integer and sums to ZERO
    * over every group exactly — the self-check a baseline-subtracted
    * advantage must satisfy (the RLOO numerators Σ(N·r_i − Σr) also
    * cancel exactly; only the per-row DIV truncation is visible).
    * Singleton groups have no leave-one-out baseline and are
    * excluded (documented; the spec counts them).
    *
    * Scale shape: one map-side-combined per-user aggregate, rejoined
    * on the user grain (both sides co-keyed on user_id — one shuffle
    * each, no broadcast of fact-scale state), plus one per-user rank
    * window on the same key. Output is completion-grain, as a credit
    * signal must be.
    */
  def rlooAdvantage(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val grp = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("sum_cents"))
      .where(col("n") >= 2)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cents").desc, col("event_id").asc)
    ev.join(grp, "user_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("cents"), col("n"),
        expr("(n * cents - sum_cents) * 1000 DIV (n - 1)")
          .as("rloo_adv_milli"),
        (col("n") + 1L - col("rk") * 2L).cast("long")
          .as("centered_rank_x2"))
  }

  private val halvingB0 = 128

  /** The q342 driver entry: SUCCESSIVE HALVING — the fixed-budget
    * best-arm race (Karnin 2013; the inner loop of Hyperband) a
    * hyperparameter sweep or prompt-variant bake-off runs instead of
    * a full A/B on every arm: round r evaluates every surviving arm
    * on its first b·2^r logged events (ARRIVAL order — a
    * value-ordered prefix would bias the race), keeps the top
    * ⌈S/2⌉ by truncated micro-cent mean (ties by arm name, a total
    * order), and halves again. Arms = event types, three rounds at
    * budgets 128/256/512. Per arm: the per-round means (NULL once
    * eliminated — an eliminated arm never spends budget, exactly the
    * point of the race), survival flags, and the champion.
    *
    * Exactness: means are one truncating DIV per (arm, round) over
    * the ACTUAL prefix count (an arm with fewer events than the
    * budget races on what it has); the keep rule compares those
    * truncated means under (mean desc, arm asc) — both engines rank
    * the identical integers. n=128 at round 0 makes the race
    * non-degenerate on the fixture (spec pins a real elimination).
    *
    * Scale shape: ONE arm-partitioned arrival-rank window whose
    * rk ≤ 512 prune pushes to the scan via WindowGroupLimit (the
    * q250/q338 device — the fact table never ranks beyond the max
    * budget), one conditional aggregate to the bounded arm domain,
    * then the halving recursion entirely on K rows (bounded-domain
    * windows, the documented exception).
    */
  def successiveHalving(spark: SparkSession, sfDir: String): DataFrame = {
    val wArr = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id").asc)
    val arms = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("srk", row_number().over(wArr).cast("long"))
      .where(col("srk") <= halvingB0 * 4)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_raced"),
        sum(when(col("srk") <= halvingB0, col("cents"))).cast("long").as("s0"),
        sum(when(col("srk") <= halvingB0, 1L)).cast("long").as("c0"),
        sum(when(col("srk") <= halvingB0 * 2, col("cents"))).cast("long")
          .as("s1"),
        sum(when(col("srk") <= halvingB0 * 2, 1L)).cast("long").as("c1"),
        sum(col("cents")).cast("long").as("s2"),
        count(lit(1)).cast("long").as("c2"))
      .select(col("event_type"), col("n_raced"),
        expr("s0 * 1000000 DIV c0").as("mean0_micro"),
        expr("s1 * 1000000 DIV c1").as("mean1_micro"),
        expr("s2 * 1000000 DIV c2").as("mean2_micro"))
    // halving on the bounded arm domain: rank within survivors only
    val wAll = Window.orderBy(col("mean0_micro").desc,
      col("event_type").asc)
    val r0 = arms
      .withColumn("k0", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("long"))
      .withColumn("in_r1",
        rank().over(wAll).cast("long") * 2 <= col("k0") + 1L)
    val w1 = Window.partitionBy(col("in_r1"))
      .orderBy(col("mean1_micro").desc, col("event_type").asc)
    val r1 = r0
      .withColumn("k1", sum(when(col("in_r1"), 1L).otherwise(0L)).over(
        Window.partitionBy(lit(1))).cast("long"))
      .withColumn("in_r2", col("in_r1") &&
        rank().over(w1).cast("long") * 2 <= col("k1") + 1L)
    val w2 = Window.partitionBy(col("in_r2"))
      .orderBy(col("mean2_micro").desc, col("event_type").asc)
    r1
      .withColumn("k2", sum(when(col("in_r2"), 1L).otherwise(0L)).over(
        Window.partitionBy(lit(1))).cast("long"))
      .withColumn("champion", col("in_r2") &&
        rank().over(w2).cast("long") * 2 <= col("k2") + 1L)
      .select(col("event_type"), col("n_raced"), col("mean0_micro"),
        when(col("in_r1"), col("mean1_micro")).as("mean1_micro"),
        when(col("in_r2"), col("mean2_micro")).as("mean2_micro"),
        col("in_r1"), col("in_r2"), col("champion"))
  }

  /** The q343 driver entry: DOUBLY-ROBUST off-policy value — the
    * estimator that closes q337's loop (Dudík 2011): DR(a) = r̂(a) +
    * (1/n)·Σ w·(r − r̂(a)) — the model's answer plus the
    * importance-weighted correction of the model's own residuals.
    * The reward model r̂(a) here is the global per-action truncated
    * milli-cent mean (a deliberately COARSE model: per-(user, action)
    * empirical means would zero every residual and make the entry
    * vacuous — the spec pins a non-zero correction). Weights are
    * q337's exact empirical-propensity rationals (w_e3 = n_u·10³ DIV
    * n_ua, one truncation per cell); residuals r_ua·10³ − n_ua·r̂ are
    * SIGNED and their weighted sum accumulates in DECIMAL(38,0)
    * (HUGEINT on the oracle side — the q291/q293 wide-sum device)
    * before the single trailing signed DIV by n·10³. When the
    * correction is small relative to IPS-vs-DM disagreement, DR is
    * doing its job: it inherits the model's variance, not the
    * weights'.
    *
    * Scale shape: identical to q337 — ONE map-side (user, action)
    * exchange, per-user totals rejoined on the user grain, the model
    * broadcast from the bounded action domain, final table on the
    * action domain.
    */
  def doublyRobust(spark: SparkSession, sfDir: String): DataFrame = {
    val (ua, perUser, n) = policyLog(spark, sfDir)
    val model = ua.groupBy(col("event_type"))
      .agg(expr("CAST(SUM(r_ua) * 1000 DIV SUM(n_ua) AS BIGINT)")
        .as("rhat_milli"))
    ua.join(perUser, "user_id")
      .join(broadcast(model), "event_type")
      .select(col("event_type"), col("n_ua"), col("rhat_milli"),
        expr("n_u * 1000 DIV n_ua").as("w_e3"),
        expr("r_ua * 1000 - n_ua * rhat_milli").as("res_milli"))
      .crossJoin(broadcast(n))
      .groupBy(col("event_type"))
      .agg(sum(col("n_ua")).cast("long").as("n_logged"),
        max(col("rhat_milli")).as("rhat_milli"),
        expr("""CAST(SUM(CAST(w_e3 * res_milli AS DECIMAL(38, 0)))
            DIV (MAX(n) * 1000) AS BIGINT)""").as("corr_milli"))
      .withColumn("dr_milli",
        (col("rhat_milli") + col("corr_milli")).cast("long"))
  }

  /** The q346 driver entry: KRUSKAL–WALLIS k-SAMPLE RANK TEST — the
    * omnibus "do ANY of these k arms differ?" gate run before
    * pairwise drill-downs (q276 Mann–Whitney is its k=2 special
    * case), on exactly q276's integer discipline: mid-ranks under
    * ties carried as DOUBLED ranks (2·avg-rank of a tied value block
    * = 2·cum_below + block + 1, an integer), so the rank sums R2ᵢ
    * are exact and Σᵢ R2ᵢ = n(n+1) — the conservation law the spec
    * pins. H = 3/(n(n+1))·Σ R2ᵢ²/nᵢ − 3(n+1) in milli with one
    * truncating DIV per group term (R2ᵢ² in DECIMAL(38)/HUGEINT —
    * the square tops 2⁶³ once n passes ~3M) and the standard tie
    * correction H/(1 − Σ(t³−t)/(n³−n)) applied as a trailing
    * rational multiply. Valid to n = 10⁶ rows per the q278
    * documented-bound rule (beyond that, lift the n³ products into
    * DECIMAL on both sides).
    *
    * Scale shape: the q276 value-domain device — ranks never
    * materialize per ROW; one map-side (value, arm) count collapses
    * the fact table, the cumulative window runs over the bounded
    * DISTINCT-value domain (cents), and the statistic assembles on
    * the arm domain.
    */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val perVT = Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("cents"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("c_vt"))
    val perV = perVT.groupBy(col("cents"))
      .agg(sum(col("c_vt")).cast("long").as("c_v"))
    val wc = Window.orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perV
      .withColumn("cum", coalesce(sum(col("c_v")).over(wc), lit(0L)))
    val groups = perVT.join(cum, "cents")
      .groupBy(col("event_type"))
      .agg(sum(col("c_vt")).cast("long").as("n_i"),
        sum(col("c_vt") * (col("cum") * 2L + col("c_v") + 1L))
          .cast("long").as("r2_i"))
    val glob = cum.agg(sum(col("c_v")).cast("long").as("n"),
      sum(col("c_v") * col("c_v") * col("c_v") - col("c_v")).cast("long")
        .as("tie_cubes"))
    val h = groups.crossJoin(broadcast(glob))
      .select(col("n"), col("tie_cubes"),
        expr("CAST(CAST(r2_i AS DECIMAL(38, 0)) * r2_i DIV n_i AS BIGINT)")
          .as("t_i"))
      .groupBy(col("n"), col("tie_cubes"))
      .agg(expr("""CAST(CAST(3000 AS DECIMAL(38, 0)) * SUM(t_i)
          DIV (MAX(n) * (MAX(n) + 1)) - 3000 * (MAX(n) + 1) AS BIGINT)""")
        .as("h_milli"))
      .select(col("n"), col("h_milli"),
        expr("""CAST(CAST(h_milli AS DECIMAL(38, 0)) * (n * n * n - n)
            DIV (n * n * n - n - tie_cubes) AS BIGINT)""")
          .as("h_tie_milli"))
    groups.crossJoin(broadcast(h))
      .select(col("event_type"), col("n_i"), col("r2_i"), col("n"),
        col("h_milli"), col("h_tie_milli"))
  }

  private val consistencyKs = Seq(1, 3, 5)

  /** The q349 driver entry: SELF-CONSISTENCY CURVE — the
    * majority-vote convergence statistic of Wang 2022 ("Self-
    * Consistency Improves Chain of Thought"): sample k answers, take
    * the mode, and measure how fast the k-sample mode converges to
    * the full-distribution mode as k grows. Users are prompts, their
    * arrival-ordered events the samples, the answer the event type.
    * Per k ∈ {1, 3, 5}: the mode of the FIRST k samples (ties broken
    * by type ascending — a total order both engines share) against
    * the user's full-log mode under the same tie rule; the curve is
    * `agree_ppm` per k. Only users with ≥ 5 events vote (a shorter
    * log makes the k=5 prefix equal the full log and inflates the
    * tail point — the spec counts the exclusion).
    *
    * Exactness: modes are argmins of the integer pair (−count, type)
    * — no probability estimates anywhere; one trailing ppm DIV per
    * k arm. The mode extraction avoids struct-argmax (the q321
    * DuckDB arg_max-over-STRUCT lesson): a bounded rank window over
    * the (user, type) count grain takes rn = 1.
    *
    * Scale shape: ONE user-keyed arrival-rank window (no prune — the
    * full-log mode needs every row anyway), one map-side-combined
    * (user, type) conditional count feeding all k arms at once, mode
    * windows on the bounded per-user type domain, and a final
    * k-arm reduce on the user grain.
    */
  def selfConsistency(spark: SparkSession, sfDir: String): DataFrame = {
    val kMax = consistencyKs.max
    val wArr = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("srk", row_number().over(wArr).cast("long"))
    val kCols = consistencyKs.map(k =>
      sum(when(col("srk") <= k, 1L).otherwise(0L)).cast("long").as(s"c_$k"))
    val counts = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("c_all"), kCols: _*)
      .withColumn("n_user",
        sum(col("c_all")).over(Window.partitionBy(col("user_id")))
          .cast("long"))
      .where(col("n_user") >= kMax)
    def mode(cCol: String, out: String) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col(cCol).desc, col("event_type").asc)
      counts.where(col(cCol) > 0L)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as(out))
    }
    val base = mode("c_all", "mode_all")
    consistencyKs.map { k =>
      base.join(mode(s"c_$k", s"mode_$k"), "user_id")
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(when(col(s"mode_$k") === col("mode_all"), 1L)
            .otherwise(0L)).cast("long").as("n_agree"))
        .select(lit(k.toLong).as("k"), col("n_users"), col("n_agree"),
          expr("n_agree * 1000000 DIV n_users").as("agree_ppm"))
    }.reduce(_ unionByName _)
  }

  private val headSetK = 10

  /** The q356 driver entry: HEAD-SET DRIFT — the "did the head of the
    * distribution change?" monitor complementing q331's
    * whole-distribution TVD: dashboards, caches, and negative-
    * sampling tables key on the TOP-k entities, so the operational
    * question is whether the top-k SET and its ORDER moved between
    * the stream's early and late halves (q331's exact midpoint
    * split). Per entity in either half's top-k (by count desc,
    * user_id asc — a total order): both ranks (absent side reads
    * k+1, the standard truncated-list convention), the absolute
    * displacement, and globally the set-overlap Jaccard in ppm and
    * the Spearman-footrule sum Σ|r₁ − r₂| — the exact-integer rank
    * distance (Diaconis–Graham), zero iff the head is stable.
    *
    * Scale shape: ONE map-side-combined per-entity conditional count
    * (both halves in one pass), then each half's rank ≤ k filter
    * sits directly on its own rank window, so WindowGroupLimit
    * prunes the sort to k rows (the q250 device — asserted for the
    * q338/q342 siblings); the full-outer join and globals live on
    * ≤ 2k rows.
    */
  def headSetDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tm"))
    val bounds = ev.agg(min(col("tm")).as("tmin"), max(col("tm")).as("tmax"))
    val counts = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        (col("tm") * 2 <= col("tmin") + col("tmax")).as("early"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).cast("long").as("ce"),
        sum(when(!col("early"), 1L).otherwise(0L)).cast("long").as("cl"))
      .localCheckpoint(true) // read by both top-k sides
    def topK(c: String, rk: String) = counts
      .withColumn(rk, row_number().over(
        Window.orderBy(col(c).desc, col("user_id").asc)).cast("long"))
      .where(col(rk) <= headSetK)
      .select(col("user_id"), col(rk))
    val joined = topK("ce", "rank_early")
      .join(topK("cl", "rank_late"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("rank_early"), lit(headSetK + 1L)).as("rank_early"),
        coalesce(col("rank_late"), lit(headSetK + 1L)).as("rank_late"))
      .withColumn("displacement",
        abs(col("rank_early") - col("rank_late")).cast("long"))
    val glob = joined.agg(
      sum(when(col("rank_early") <= headSetK &&
        col("rank_late") <= headSetK, 1L).otherwise(0L)).cast("long")
        .as("n_both"),
      sum(col("displacement")).cast("long").as("footrule"))
      .withColumn("jaccard_ppm",
        expr(s"n_both * 1000000 DIV (${2 * headSetK} - n_both)"))
    joined.crossJoin(broadcast(glob))
  }

  /** Wilson-interval arithmetic shared VERBATIM between the Spark
    * plan and the DuckDB oracle (both engines run the identical
    * IEEE-754 expression text, so the floored micro bounds are
    * bit-equal): z = 1.96, z² = 3.8416 exactly; the only floats are
    * inside this floor.
    */
  private[graft] def wilsonSql(bound: String): String = {
    val sign = if (bound == "lo") "-" else "+"
    s"""CAST(floor(1000000.0 * (
        ((CAST(k AS DOUBLE) / n) + 3.8416 / (2.0 * n)
         $sign 1.96 * sqrt(((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
                            + 3.8416 / (4.0 * n)) / n))
        / (1.0 + 3.8416 / n))) AS BIGINT)"""
  }

  /** The q366 driver entry: WILSON PASS-RATE GATE — the per-task
    * eval significance report behind every "did the model clear the
    * bar?" dashboard: a raw pass rate on 30 samples and on 3000
    * samples are not the same evidence, and the normal-approximation
    * interval misbehaves exactly where evals live (rates near 0 or
    * 1, small n). Wilson (1927) score bounds fix both. Per task
    * (event_type; pass = value > 50): n, passes, exact rate ppm,
    * Wilson lower/upper micro bounds at 95%, and the gate flag —
    * the lower bound clears 333333 ppm (one-in-three, the bar
    * that discriminates on the fixture's synthetic judge; a real
    * eval passes its own SLA): "significantly above the bar", not
    * "point estimate above the bar", is the whole point.
    * The float sqrt is confined to [[wilsonSql]], shared verbatim
    * with the oracle so both engines floor identical doubles —
    * the q30-cosine portability discipline.
    *
    * Scale shape: one map-side-combined count onto the bounded task
    * domain; everything after is per-row arithmetic on that domain.
    */
  def wilsonGate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("value") > 50.0, 1L).otherwise(0L)).cast("long")
          .as("k"))
      .withColumn("rate_ppm", expr("k * 1000000 DIV n"))
      .withColumn("wilson_lo_ppm", expr(wilsonSql("lo")))
      .withColumn("wilson_hi_ppm", expr(wilsonSql("hi")))
      .withColumn("gate", col("wilson_lo_ppm") > 333333L)

  /** The q368 driver entry: KRIPPENDORFF'S ALPHA (nominal) — the
    * agreement statistic an annotation pipeline needs once raters
    * SKIP items: q268's Fleiss kappa assumes every item gets all R
    * ratings; real labeling queues have per-item coverage m_u ∈
    * {2, 3, …} and Krippendorff (2004) is the standard statistic
    * that handles it (items with m_u < 2 carry no pairable
    * information and are excluded — the count is reported, never
    * silently dropped). Same deterministic rating matrix as q268
    * (md5-decided cyclic-next corruption, rater r noisier with
    * r/10), plus an md5-decided 20% skip for rater 3.
    *
    * Exact-integer statistic: with n = Σm_u pairable ratings, n_uc
    * the per-item category counts and n_c the margins,
    *   α = 1 − (n−1)·Σ_u (m_u² − Σ_c n_uc²)/(m_u−1)
    *           / (n² − Σ_c n_c²),
    * computed with NO division until the trailing micro: the
    * per-unit term is scaled by 2 (integer for m_u ∈ {2,3}: the
    * m_u−1 denominators are 1 and 2), products run in
    * DECIMAL(38,0)/HUGEINT per the q221 rule, one truncating micro
    * DIV at the end.
    *
    * Scale shape: q268's — explode ×R, one (doc, label) count, a
    * category-domain reduce, a 1-row finish.
    */
  def krippendorffAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    val raters = 3
    val rated = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(array((1 to raters).map(lit): _*)).as("r"))
      // rater 3 skips ~20% of items (md5-decided, oracle-replayed)
      .where(!(col("r") === 3 &&
        conv(substring(md5(concat(lit("skip:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 10 < 2))
      .select(col("doc_id"),
        when(conv(substring(md5(concat(lit("rate:"),
            col("doc_id").cast("string"), lit(":"), col("r").cast("string"))),
            1, 15), 16, 10).cast("long") % 10 < col("r"),
          langNext).otherwise(col("lang")).as("label"))
    krippendorffFromRatings(rated)
  }

  /** The q368 statistic over any `(doc_id, label)` rating frame —
    * split out so the spec can drive a hand matrix (including the
    * single-rating exclusion arm the fixture never produces: raters
    * 1 and 2 rate everything there, so m_u ≥ 2 always).
    */
  def krippendorffFromRatings(rated: DataFrame): DataFrame = {
    val nic = rated.groupBy(col("doc_id"), col("label"))
      .agg(count(lit(1)).cast("long").as("c"))
    val perUnit = nic.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("m_u"),
        sum(col("c") * col("c")).cast("long").as("ssq"))
    // items with a single rating are unpairable: excluded, counted
    // The ×2 scaling makes the per-unit term exact ONLY for coverage
    // m_u ∈ {2, 3} (denominators 1 and 2) — beyond that the DIV would
    // silently truncate and drift alpha, so fail loudly instead of
    // returning a wrong statistic on a ≥4-rater frame.
    val pairable = perUnit.where(col("m_u") >= 2L)
      .withColumn("do2",
        when(col("m_u") <= 3L,
          expr("2 * (m_u * m_u - ssq) DIV (m_u - 1)").cast("long"))
          .otherwise(raise_error(lit(
            "krippendorffFromRatings: exact-integer path supports per-item" +
              " coverage m_u <= 3 only (2*(m_u^2-ssq) DIV (m_u-1)" +
              " truncates for m_u >= 4)"))))
    val margins = nic
      .join(pairable.select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("label"))
      .agg(sum(col("c")).cast("long").as("n_c"))
    val de = margins.agg(
      sum(col("n_c")).cast("long").as("n"),
      sum(col("n_c").cast("decimal(38,0)") * col("n_c")).as("sq_c"))
    val doSum = pairable.agg(
      sum(col("do2")).cast("decimal(38,0)").as("do2_sum"),
      count(lit(1)).cast("long").as("n_items"))
    val excluded = perUnit.where(col("m_u") <= 1L)
      .agg(count(lit(1)).cast("long").as("n_excluded"))
      .select(coalesce(col("n_excluded"), lit(0L)).as("n_excluded"))
    doSum.crossJoin(broadcast(de)).crossJoin(broadcast(excluded))
      .select(col("n_items"), col("n_excluded"), col("n"),
        // degenerate frame where every pairable rating shares one
        // label: n² = Σn_c² zeroes the expected-disagreement
        // denominator (0/0). Convention: no disagreement observed or
        // possible → α = 1 (alpha_micro = 1000000), never a
        // divide-by-zero NULL.
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n = sq_c THEN 1000000
             ELSE CAST(1000000 - (CAST(n - 1 AS DECIMAL(38,0)) * do2_sum
             * 1000000 - PMOD(CAST(n - 1 AS DECIMAL(38,0)) * do2_sum
             * 1000000, 2 * (CAST(n AS DECIMAL(38,0)) * n - sq_c)))
             / (2 * (CAST(n AS DECIMAL(38,0)) * n - sq_c)) AS BIGINT) END""")
          .as("alpha_micro"))
  }

  /** The q370 driver entry: EARLY-STOPPING AUDIT — the
    * patience-rule post-mortem every training-ops dashboard runs
    * over its eval curves: for each run (user_id; step = arrival
    * order, metric = value in exact cents, lower is better), where
    * was the best step, when would patience-P early stopping have
    * fired (first step ≥ P steps past the last strict improvement),
    * and how many steps the run wasted past that point — the
    * compute-savings number that decides whether to wire the rule
    * into the trainer. Strict improvement against the running
    * prefix minimum; a run that never triggers reports its full
    * length with `stopped = false`.
    *
    * Scale shape: run-keyed windows only (arrival rank, prefix min,
    * running last-improvement max) and one aggregate on the same
    * key — a single exchange, per-run state bounded by run length.
    */
  def earlyStoppingAudit(spark: SparkSession, sfDir: String): DataFrame =
    earlyStoppingAuditOn(Tables.load(spark, sfDir, "events"))

  /** The q370 core over any events-shaped frame `(user_id, ts,
    * event_id, value)` — split out so the spec can pin a hand-built
    * curve with a known patience firing point.
    */
  def earlyStoppingAuditOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("step", row_number().over(w).cast("long"))
      .withColumn("prev_min", min(col("cents")).over(prior))
      .withColumn("improving",
        col("prev_min").isNull || col("cents") < col("prev_min"))
      .withColumn("last_imp",
        max(when(col("improving"), col("step"))).over(run))
      .withColumn("fire",
        when(col("step") - col("last_imp") >= 5L, col("step")))
      .withColumn("run_min",
        min(col("cents")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_steps"),
        min(col("cents")).cast("long").as("best_cents"),
        min(when(col("cents") === col("run_min"), col("step")))
          .cast("long").as("best_step"),
        min(col("fire")).cast("long").as("stop_step_raw"))
      .withColumn("stopped", col("stop_step_raw").isNotNull)
      .withColumn("stop_step",
        coalesce(col("stop_step_raw"), col("n_steps")))
      .drop("stop_step_raw")
      .withColumn("steps_saved", col("n_steps") - col("stop_step"))
  }

  private val permutationReplicates = 200

  /** The q374 driver entry: PAIRED PERMUTATION TEST (sign-flip) —
    * the assumption-free significance test for paired eval metrics
    * (two models on the same prompts, two variants on the same
    * users): no normality, no rank approximation (q276's
    * Mann–Whitney is the UNPAIRED rank test) — just the exact
    * randomization logic: under H₀ each pair's difference is
    * sign-symmetric, so T = Σdᵢ is compared against R md5-derived
    * sign-flip replicates (the cross-engine pseudo-randomness
    * device — DuckDB replays the identical flips; a true RNG would
    * be unfalsifiable under the differential gate). Pairs = users
    * holding both arms (click vs view mean value per user, exact
    * cents with per-term truncating DIV); p = (#{|T_r| ≥ |T|} + 1)
    * / (R + 1) in micro — the add-one form that keeps p valid
    * (Phipson & Smyth 2010).
    *
    * Scale shape: one user-keyed aggregate builds the diffs, the
    * ×R explode lands on the bounded replicate domain (R rows out),
    * one 1-row finish — map-side combine carries everything.
    */
  def permutationTest(spark: SparkSession, sfDir: String): DataFrame = {
    val diffs = Tables.load(spark, sfDir, "events")
      .where(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"))
      .agg(
        expr("""CAST(SUM(CASE WHEN event_type = 'click'
             THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) DIV
             NULLIF(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0)
             AS BIGINT)""").as("click_cents"),
        expr("""CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) DIV
             NULLIF(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0)
             AS BIGINT)""").as("view_cents"))
      .where(col("click_cents").isNotNull && col("view_cents").isNotNull)
      .select(col("user_id"),
        (col("click_cents") - col("view_cents")).as("d"))
    val obs = diffs.agg(sum(col("d")).cast("long").as("t_obs"),
      count(lit(1)).cast("long").as("n_pairs"))
    val reps = diffs
      .select(col("user_id"), col("d"),
        explode(array((1 to permutationReplicates).map(lit): _*)).as("r"))
      .withColumn("s",
        when(conv(substring(md5(concat(lit("flip:"),
          col("user_id").cast("string"), lit(":"), col("r").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0L, 1L).otherwise(-1L))
      .groupBy(col("r"))
      .agg(sum(col("s") * col("d")).cast("long").as("t_r"))
    reps.crossJoin(broadcast(obs))
      .agg(max(col("n_pairs")).cast("long").as("n_pairs"),
        max(col("t_obs")).cast("long").as("t_obs_cents"),
        sum(when(abs(col("t_r")) >= abs(col("t_obs")), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
      .withColumn("n_replicates", lit(permutationReplicates.toLong))
      .withColumn("p_micro",
        expr(s"(n_extreme + 1) * 1000000 DIV ${permutationReplicates + 1}"))
      // degenerate corpus (no user holds both arms): the global agg
      // over the empty reps×obs frame would emit one all-NULL row
      // while the oracle's GROUP-BY form emits zero — align on zero
      .where(col("n_pairs") >= 1L)
  }

  /** q399 default knobs — named so the oracle generator interpolates
    * the SAME values the Spark defaults use.
    */
  val bhReplicates: Int = 200
  val bhAlphaMicro: Long = 50000L

  /** The q399 driver entry: BENJAMINI–HOCHBERG FDR ACROSS A METRIC
    * FAMILY — the multiple-testing control an experimentation
    * platform applies when ONE experiment reads MANY metrics (q379's
    * Holm controls family-wise error down a funnel; BH controls the
    * FALSE DISCOVERY RATE across parallel metrics, the standard
    * dashboard correction): per event_type, a sign-flip permutation
    * test (q374's exact randomization machinery, md5-replayed flips)
    * of the per-user arm-signed value sums under the q129 hash
    * split, then the step-up rule — rank p ascending, reject every
    * rank ≤ k* where k* is the largest k with p₍ₖ₎·m ≤ k·α. The
    * comparison is integer cross-multiplied (p_micro·m vs
    * k·alpha_micro — no division anywhere in the decision), p
    * carries the add-one Phipson–Smyth form, and ties rank by
    * (p, event_type) total order.
    *
    * Scale shape: one (type, user) cents aggregate (map-side
    * combined), the ×R explode lands on the bounded type×replicate
    * domain, the step-up is a window over m ≤ |event types| rows.
    */
  def bhFdr(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(expr("CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)")
        .as("cents"))
      // arm sign from the q129 hash split: A = even user_id
      .withColumn("s",
        when(col("user_id") % 2 === 0L, 1L).otherwise(-1L))
      .localCheckpoint(true) // read by the observed and replicate arms
    val obs = perUser.groupBy(col("event_type"))
      .agg(sum(col("s") * col("cents")).cast("long").as("t_obs"),
        count(lit(1)).cast("long").as("n_users"))
    val reps = perUser
      .select(col("event_type"), col("user_id"), col("s"), col("cents"),
        explode(array((1 to bhReplicates).map(lit): _*)).as("r"))
      .withColumn("f",
        when(conv(substring(md5(concat(lit("bh:"), col("event_type"),
          lit(":"), col("user_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 2 === 0L, 1L).otherwise(-1L))
      .groupBy(col("event_type"), col("r"))
      .agg(sum(col("f") * col("s") * col("cents")).cast("long").as("t_r"))
    val p = reps.join(broadcast(obs), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_users")).cast("long").as("n_users"),
        max(col("t_obs")).cast("long").as("t_obs_cents"),
        sum(when(abs(col("t_r")) >= abs(col("t_obs")), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
      .withColumn("p_micro",
        expr(s"(n_extreme + 1) * 1000000 DIV ${bhReplicates + 1}"))
    val m = p.agg(count(lit(1)).cast("long").as("m"))
    val wRank = Window.orderBy(col("p_micro").asc, col("event_type").asc)
    val ranked = p.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("bh_ok",
        col("p_micro") * col("m") <= col("rank") * lit(bhAlphaMicro))
    val kStar = ranked
      .agg(coalesce(max(when(col("bh_ok"), col("rank"))), lit(0L))
        .as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("event_type"), col("n_users"), col("t_obs_cents"),
        col("p_micro"), col("rank"), col("m").as("n_tests"),
        col("bh_ok"), col("k_star"),
        (col("rank") <= col("k_star")).as("rejected"))
  }

  /** q400 default knobs — named so the oracle generator interpolates
    * the SAME values the Spark defaults use. The PLANTED
    * first-position bias (the q353 fixture-judge device: the defect
    * under audit is built into the deterministic judge so the audit
    * provably detects it) and the judge's md5 noise amplitude.
    */
  val pjBiasMicro: Long = 80000L
  val pjNoiseAmp: Long = 150000L

  /** The q400 driver entry: JUDGE POSITION-BIAS SWAP AUDIT — the
    * standard diagnostic for pairwise preference judges (LLM judges
    * are measurably first-position biased; every serious eval runs
    * each duel twice with the order swapped): items are adjacent-id
    * doc pairs scored by q212's quality scorer, the judge prefers
    * the FIRST presentation iff q_first − q_second + bias + noise ≥ 0
    * (bias and noise per [[pjBiasMicro]]/[[pjNoiseAmp]]; noise is an
    * md5-derived integer uniform on [−amp, +amp], drawn
    * independently per presentation order so swap inconsistency is
    * genuine), and the audit reports, per |score-diff| decile
    * bucket: swap-consistency (same winner under both orders) and
    * the first-position win share over both presentations — close
    * calls flip most, and the global first-win share above 50%
    * measures the planted bias. Tie semantics: an exact score tie
    * with zero bias+noise prefers the first presentation BOTH times
    * → inconsistent by construction (stated, spec-pinned).
    *
    * Scale shape: one scored pass, one id-adjacency self-join, then
    * row-local verdicts and a bounded 10-bucket aggregate.
    */
  def judgePositionBias(spark: SparkSession, sfDir: String): DataFrame =
    judgePositionBiasOn(rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score")), pjBiasMicro, pjNoiseAmp)

  /** The q400 core over any `(doc_id, score)` frame. */
  def judgePositionBiasOn(
      scored: DataFrame, biasMicro: Long = pjBiasMicro,
      noiseAmp: Long = pjNoiseAmp): DataFrame = {
    def noise(o: Int) = expr(
      s"""CAST(conv(substring(md5(concat('pj:',
           CAST(id_a AS STRING), ':', '$o')), 1, 15), 16, 10)
           AS BIGINT) % ${2 * noiseAmp + 1} - $noiseAmp""")
    val verdicts = scored.where(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id_a"), col("score").as("s_a"))
      .join(scored.select(col("doc_id").as("id_b"),
        col("score").as("s_b")), col("id_b") === col("id_a") + 1)
      .withColumn("w0_is_a",
        col("s_a") - col("s_b") + lit(biasMicro) + noise(0) >= 0)
      .withColumn("w1_is_b",
        col("s_b") - col("s_a") + lit(biasMicro) + noise(1) >= 0)
      // winner0 = if w0_is_a then a else b; winner1 = if w1_is_b
      // then b else a; same winner <=> the flags DISAGREE
      .withColumn("consistent", col("w0_is_a") =!= col("w1_is_b"))
      .withColumn("first_wins",
        when(col("w0_is_a"), 1L).otherwise(0L) +
          when(col("w1_is_b"), 1L).otherwise(0L))
      .withColumn("diff_decile",
        least(floor(abs(col("s_a") - col("s_b")).cast("double") / 100000.0)
          .cast("long"), lit(9L)))
      .localCheckpoint(true) // read by the bucket and global arms
    val per = verdicts.groupBy(col("diff_decile"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("consistent"), 1L).otherwise(0L)).cast("long")
          .as("n_consistent"),
        sum(col("first_wins")).cast("long").as("n_first_wins"))
      .withColumn("consistency_ppm",
        expr("n_consistent * 1000000 DIV n_pairs"))
      .withColumn("first_win_ppm",
        expr("n_first_wins * 1000000 DIV (2 * n_pairs)"))
    val tot = verdicts.agg(
      count(lit(1)).cast("long").as("t_pairs"),
      sum(when(col("consistent"), 1L).otherwise(0L)).cast("long")
        .as("t_consistent"),
      sum(col("first_wins")).cast("long").as("t_first"))
    per.crossJoin(broadcast(tot))
      .withColumn("total_consistency_ppm",
        expr("t_consistent * 1000000 DIV t_pairs"))
      .withColumn("total_first_win_ppm",
        expr("t_first * 1000000 DIV (2 * t_pairs)"))
      .drop("t_pairs", "t_consistent", "t_first")
  }

  /** q401 default knobs — named so the oracle generator interpolates
    * the SAME values the Spark defaults use.
    */
  val kwJudges: Int = 3
  val kwNoiseAmp: Long = 120000L

  /** The q401 driver entry: KENDALL'S W RANKING CONCORDANCE — the
    * m-judge generalization of q247's two-scorer tau (Kendall 1939):
    * each judge ranks every doc (q212's score perturbed by
    * md5-derived per-judge noise, ties broken (score desc, doc_id
    * asc) so every ranking is a PERMUTATION — no tie correction
    * needed, stated), and W = 12·S / (m²(n³−n)) over the rank-sum
    * deviations S measures how far the panel is from one shared
    * ordering. Computed division-free until one trailing micro DIV:
    * S2 = Σ(2Rᵢ − m(n+1))² = 4S keeps everything integer regardless
    * of m(n+1) parity, products in DECIMAL(38,0)/HUGEINT (n³ at
    * corpus scale passes 2⁶³ immediately), w_micro = 3·S2·10⁶ DIV
    * (m²(n³−n)); the derived mean pairwise Spearman ρ̄ =
    * (mW − 1)/(m − 1) ships beside it.
    *
    * The per-judge doc-grain rank rides ONE chunked-rank call with
    * bucket = (judge, score range): the global chunked rank orders
    * judges consecutively, so rank-within-judge = global rank −
    * (j−1)·n — m× the corpus rows, never a partition-less window
    * (the q303/q304 hazard).
    */
  def kendallW(spark: SparkSession, sfDir: String): DataFrame =
    kendallWOn(rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score")), kwJudges, kwNoiseAmp)

  /** The q401 core over any `(doc_id, score)` frame. */
  def kendallWOn(
      scored: DataFrame, judges: Int = kwJudges,
      noiseAmp: Long = kwNoiseAmp): DataFrame = {
    require(judges >= 2, "concordance needs at least two judges")
    val judged = scored
      .select(col("doc_id"), col("score"),
        explode(array((1 to judges).map(lit): _*)).as("j"))
      .withColumn("jscore", col("score") + expr(
        s"""CAST(conv(substring(md5(concat('kw:', CAST(j AS STRING),
             ':', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
             % ${2 * noiseAmp + 1} - $noiseAmp"""))
    val n = scored.agg(count(lit(1)).cast("long").as("n"))
    val ranked = Relational.chunkedRowNumber(
      judged.crossJoin(broadcast(n)),
      bucket = struct(col("j"),
        Relational.rangeBucket(col("jscore"), 10000L, descending = true)),
      order = Seq(col("j").asc, col("jscore").desc, col("doc_id").asc))
      .withColumn("rk_j", col("rk") - (col("j") - 1).cast("long") * col("n"))
    val rsum = ranked.groupBy(col("doc_id"))
      .agg(max(col("n")).as("n"),
        sum(col("rk_j")).cast("long").as("r_i"))
    rsum
      .select(col("n"), expr(
        s"""CAST((2 * r_i - $judges * (n + 1)) AS DECIMAL(38,0))
             * (2 * r_i - $judges * (n + 1))""").as("dev2"))
      .groupBy(col("n"))
      .agg(sum(col("dev2")).as("s2"))
      // n <= 1 zeroes the m^2*(n^3 - n) denominator: Spark's DECIMAL
      // division would yield NULL where DuckDB's HUGEINT // 0 errors
      // (round-16 advice, divergent cross-engine behavior on a legal
      // degenerate frame). W is undefined with nothing to rank —
      // filter to EMPTY in both engines (q374's empty-frame alignment)
      .where(col("n") >= 2L)
      .select(lit(judges.toLong).as("m"), col("n").as("n_docs"),
        expr(s"""CAST((3 * s2 * 1000000 - PMOD(3 * s2 * 1000000,
             ${judges.toLong * judges} * (CAST(n AS DECIMAL(38,0)) * n * n - n)))
             / (${judges.toLong * judges}
               * (CAST(n AS DECIMAL(38,0)) * n * n - n)) AS BIGINT)""")
          .as("w_micro"))
      .withColumn("rho_bar_micro", expr(
        s"($judges * w_micro - 1000000) DIV ${judges - 1}"))
  }

  /** The q402 driver entry: EQUAL-MASS CALIBRATION / ADAPTIVE-BIN ECE
    * — q218's reliability table re-binned by RANK deciles instead of
    * fixed score widths (the standard adaptive-ECE variant: a scorer
    * whose mass piles into two fixed-width bins gets a vacuous q218
    * table; equal-mass bins put n/10 docs in every row by
    * construction). Rides the SAME score-group decile split as q233
    * ([[scoreGroupDecileAgg]] — a score group's mass is c·score, so
    * the whole table needs no doc-grain rank), reporting per decile
    * the population, claimed confidence (mean score), empirical
    * positive rate, signed gap, and the global equal-mass ECE
    * Σ_b |sum_score_b − 10⁶·pos_b| DIV n on every row — one
    * truncating division total.
    */
  def adaptiveEce(spark: SparkSession, sfDir: String): DataFrame = {
    val per = scoreGroupDecileAgg(rocAucScored(spark, sfDir))
    val tot = per.agg(
      sum(col("n_docs")).cast("long").as("t_n"),
      sum(expr("ABS(sum_score - 1000000 * n_pos)"))
        .cast("decimal(38,0)").as("t_gap"))
    per.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_docs"),
        expr("sum_score DIV n_docs").as("mean_score_micro"),
        expr("(n_pos * 1000000) DIV n_docs").as("rate_micro"),
        (expr("sum_score DIV n_docs") -
          expr("(n_pos * 1000000) DIV n_docs")).as("gap_micro"),
        expr("CAST(t_gap DIV t_n AS BIGINT)").as("ece_micro"))
  }

  /** The q382 driver entry: BOT-REGULARITY GATE — the traffic-
    * cleaning filter run before any engagement metric is trusted:
    * scripted clients fire on timers, so their inter-event gaps are
    * far too REGULAR for a human (squared coefficient of variation
    * CV² = Var/mean² near zero), while organic traffic is bursty
    * (CV² ≈ 1 for Poisson-ish arrivals — exactly what the fixture
    * reads). Per user with ≥ 5 gaps: gap count, mean gap,
    * and CV² in exact ppm via the division-free identity
    * CV²·10⁶ = (n·Σg² − (Σg)²)·10⁶ / (Σg)² — numerator nonnegative
    * by Cauchy–Schwarz, products in DECIMAL(38)/HUGEINT (q221
    * rule), ONE trailing truncating division; `bot` fires below
    * 40000 ppm. The fixture is organically bot-free (spec-pinned);
    * the spec plants a metronome client through the same core.
    *
    * Scale shape: one user-keyed lag window + one aggregate on the
    * same key — a single exchange (q87's posture).
    */
  def botRegularityGate(spark: SparkSession, sfDir: String): DataFrame =
    botRegularityGateOn(Tables.load(spark, sfDir, "events"))

  /** The q382 core over any events-shaped frame `(user_id, ts,
    * event_id)`.
    */
  def botRegularityGateOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("user_id"), (col("us") - col("prev")).as("gap"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("gap")).cast("long").as("s"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("q"))
      .where(col("n_gaps") >= 5L)
      .withColumn("mean_gap_us", expr("s DIV n_gaps"))
      .withColumn("cv2_ppm", expr(
        """CAST((CAST((CAST(n_gaps AS DECIMAL(38,0)) * q
             - CAST(s AS DECIMAL(38,0)) * s) * 1000000 AS DECIMAL(38,0))
           - PMOD(CAST((CAST(n_gaps AS DECIMAL(38,0)) * q
             - CAST(s AS DECIMAL(38,0)) * s) * 1000000 AS DECIMAL(38,0)),
             CAST(s AS DECIMAL(38,0)) * s))
           / (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)"""))
      .withColumn("bot", col("cv2_ppm") < 40000L)
      .drop("s", "q")
  }

  /** The q390 driver entry: QUALITY-vs-DUP CALIBRATION — the
    * diagnostic that decides whether the quality gate and the dedup
    * pass are redundant or complementary: per decile of q212's
    * quality score, what fraction of documents sit in a verified
    * near-dup pair (q21's exact truth)? A strong negative slope
    * ("low-quality docs are the duplicated ones") means the quality
    * gate already removes most dup mass and dedup's marginal yield
    * is concentrated; a flat curve means the two filters are
    * orthogonal and BOTH earn their cost. Deciles are the q218
    * fixed-width integer bins; membership is exact.
    *
    * Scale shape: one scored doc-grain pass + q21's capped pair
    * pass, one doc-grain join, one 10-row decile aggregate.
    */
  def qualityDupCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score"))
    val dup = graft.operators.Dedup.ngramJaccardPairs(spark, sfDir)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    scored.join(dup, Seq("doc_id"), "left")
      .withColumn("decile",
        least(floor(col("score").cast("double") / 100000.0).cast("long"),
          lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_docs"))
  }

  /** The q391 driver entry: SPLITTER BIAS AUDIT — the independence
    * check on q68's content-addressed splitter: train/val/test
    * assignment must be independent of SOURCE (a splitter that
    * sorts one feed into test makes every eval a domain-shift eval
    * by accident). Per (split, source) cell of the contingency
    * table: observed count, both margins, and the cell's exact
    * chi-square contribution in micro via the division-free
    * cross-multiplied form (O·N − R·C)²·10⁶ / (R·C·N) — products in
    * DECIMAL(38) (the numerator squares O(N²) terms), per-term
    * truncating DIV (q232's device); the global statistic and its
    * degrees of freedom ride every row for the consumer's
    * threshold. q274 tests two generic columns; THIS audits the
    * pipeline's own splitter, which is the version reviewers ask
    * for.
    *
    * Scale shape: one doc-grain join (split is row-local md5
    * arithmetic), one count onto the bounded split × source grid,
    * margins and the fold on that grid.
    */
  def splitterBias(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = TrainingPrep.splitAssign(spark, sfDir)
      .select(col("doc_id"), col("split"))
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).cast("long").as("o"))
      .localCheckpoint(true) // read by margins and the cell pass
    val rTot = cells.groupBy(col("split"))
      .agg(sum(col("o")).cast("long").as("r_tot"))
    val cTot = cells.groupBy(col("source"))
      .agg(sum(col("o")).cast("long").as("c_tot"))
    val n = cells.agg(sum(col("o")).cast("long").as("n"),
      countDistinct(col("split")).cast("long").as("n_splits"),
      countDistinct(col("source")).cast("long").as("n_sources"))
    val contrib = cells
      .join(broadcast(rTot), Seq("split"))
      .join(broadcast(cTot), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("contrib_micro", expr(
        """CAST((CAST((CAST(o AS DECIMAL(38,0)) * n
             - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
             * (CAST(o AS DECIMAL(38,0)) * n
             - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
             * 1000000 AS DECIMAL(38,0))
           - PMOD(CAST((CAST(o AS DECIMAL(38,0)) * n
             - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
             * (CAST(o AS DECIMAL(38,0)) * n
             - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
             * 1000000 AS DECIMAL(38,0)),
             CAST(r_tot AS DECIMAL(38,0)) * c_tot * n))
           / (CAST(r_tot AS DECIMAL(38,0)) * c_tot * n) AS BIGINT)"""))
    val glob = contrib.agg(
      sum(col("contrib_micro")).cast("long").as("chi2_micro"),
      expr("CAST((MAX(n_splits) - 1) * (MAX(n_sources) - 1) AS BIGINT)")
        .as("dof"))
    contrib
      .select(col("split"), col("source"), col("o"), col("r_tot"),
        col("c_tot"), col("contrib_micro"))
      .crossJoin(broadcast(glob))
  }

  private val funnelReplicates = 200

  /** The q379 driver entry: FUNNEL SIGNIFICANCE UNDER HOLM — the
    * multiple-testing discipline for per-step A/B readouts: testing
    * every funnel transition separately at α inflates the family
    * false-positive rate, so each step's randomization p (q374's
    * device, here the UNPAIRED form: arm labels md5-reassigned per
    * replicate, T = k_A·n_B − k_B·n_A cross-multiplied — no
    * division, exact BIGINT to ~3·10⁹ users per arm) passes through
    * Holm's step-down: rank p ascending, reject while
    * p·(m−rank+1) ≤ α (cross-multiplied — α never divides), stop at
    * the first failure. Steps = q112's funnel transitions
    * (view→click, click→purchase); arms = user parity.
    *
    * Scale shape: q112's funnel collapses to (user, step, conv)
    * once (localCheckpoint — read by the observed AND replicate
    * passes); the ×R explode lands on the bounded (step, R) domain;
    * Holm runs on the m-row step domain.
    */
  def funnelSignificance(spark: SparkSession, sfDir: String): DataFrame = {
    val steps = Seq(1, 2)
    val f = Relational.funnel(spark, sfDir)
      .select(col("user_id"), col("steps"))
    val scoped = steps.map { i =>
      f.where(col("steps") >= i.toLong)
        .select(lit(i.toLong).as("step"), col("user_id"),
          when(col("steps") >= (i + 1).toLong, 1L).otherwise(0L).as("conv"),
          (col("user_id") % 2 === 0).as("arm_a"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    def armAgg(df: DataFrame, keys: Seq[String]): DataFrame = df
      .groupBy(keys.map(col): _*)
      .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("arm_a"), col("conv")).otherwise(0L)).cast("long")
          .as("k_a"),
        sum(when(!col("arm_a"), 1L).otherwise(0L)).cast("long").as("n_b"),
        sum(when(!col("arm_a"), col("conv")).otherwise(0L)).cast("long")
          .as("k_b"))
      .withColumn("t", expr("k_a * n_b - k_b * n_a").cast("long"))
    val obs = armAgg(scoped, Seq("step"))
      .select(col("step"), col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        col("t").as("t_obs"))
    val reps = armAgg(
      scoped
        .select(col("step"), col("user_id"), col("conv"), col("arm_a"),
          explode(array((1 to funnelReplicates).map(lit): _*)).as("r"))
        .withColumn("arm_a", col("arm_a") =!=
          (conv(substring(md5(concat(lit("fs:"),
            col("step").cast("string"), lit(":"),
            col("user_id").cast("string"), lit(":"),
            col("r").cast("string"))), 1, 15), 16, 10).cast("long")
            % 2 === 1L)),
      Seq("step", "r"))
      .select(col("step"), col("t").as("t_r"))
    val p = reps.join(broadcast(obs), Seq("step"))
      .groupBy(col("step"))
      .agg(max(col("n_a")).as("n_a"), max(col("k_a")).as("k_a"),
        max(col("n_b")).as("n_b"), max(col("k_b")).as("k_b"),
        max(col("t_obs")).as("t_obs"),
        sum(when(abs(col("t_r")) >= abs(col("t_obs")), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
      .withColumn("p_micro",
        expr(s"(n_extreme + 1) * 1000000 DIV ${funnelReplicates + 1}"))
    val m = steps.length
    val byP = Window.orderBy(col("p_micro").asc, col("step").asc)
    p.withColumn("holm_rank", row_number().over(byP).cast("long"))
      .withColumn("ok",
        when(expr(s"p_micro * ($m - holm_rank + 1) <= 50000"), 1L)
          .otherwise(0L))
      .withColumn("significant",
        min(col("ok")).over(byP.rowsBetween(Window.unboundedPreceding, 0))
          === 1L)
      .drop("ok")
  }
}
