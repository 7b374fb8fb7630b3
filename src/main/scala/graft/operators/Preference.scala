package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Pairwise-preference aggregation — the ranking half of an RLHF /
  * model-eval pipeline: many independent "contests" each rank a small
  * set of alternatives, and the engine must aggregate them into
  * per-alternative scores (Borda, Copeland) and fitted strengths
  * (Bradley-Terry). The fixture's contests are user-days ranking
  * event types by exact spend cents; in production the alternatives
  * are model variants and the contests are annotator comparisons —
  * the shapes are identical.
  *
  * Scale posture: contests are partitioned by (user, day) and each
  * contest is tiny (≤ |type domain| alternatives), so the per-contest
  * rank window and the within-contest pair self-join both shuffle on
  * the contest key once; everything downstream lives on the bounded
  * alternatives domain (types² pair matrix), exactly the q121/q232
  * playbook.
  */
object Preference {

  /** The q321 driver entry: PREFERENCE-PAIR MINING (DPO/RLHF data
    * prep) — the step that turns a scored corpus into (chosen,
    * rejected) training pairs: within each stratum (the prompt-group
    * stand-in; here (source, lang)), the highest-quality document is
    * `chosen`, the lowest is `rejected`, and the pair ships with its
    * score margin — the max-margin heuristic preference-data
    * pipelines use to avoid training on ambiguous pairs. Selection
    * is max_by/min_by under the TOTAL order (score, doc_id), so ties
    * pick deterministically (high id wins chosen, low id wins
    * rejected — distinct docs whenever the stratum has ≥ 2, which is
    * the emission gate). The composite order packs into ONE BIGINT —
    * score·10⁷ + doc_id (score ≤ 10⁶ micros, ids < 10⁷ on any
    * fixture SF, so the key is strictly monotone in (score, id) and
    * < 10¹³) — because DuckDB v1.0's arg_max cannot order by STRUCT;
    * the same packed key runs on both engines, proving the tie rule.
    * The id bound is LOAD-BEARING for monotonicity and — since the
    * oracle packs identically — a violation would reorder BOTH
    * engines in agreement, invisibly; a doc_id outside [0, 10⁷)
    * therefore raises at evaluation time (round-15 advice) instead of
    * silently making chosen_id inconsistent with chosen_score.
    *
    * Scale shape: one scored scan, one stratum-keyed aggregate
    * (map-side combined; max_by/min_by are single-row state) — the
    * pair table lives on the bounded stratum domain. No ranks, no
    * windows, no joins beyond the score build.
    */
  def preferencePairs(spark: SparkSession, sfDir: String,
      idBound: Long = 10000000L): DataFrame = {
    // idBound is the packed-key multiplier: callers on corpora with
    // ids >= 10^7 pass a wider bound (score <= 10^6 micros keeps the
    // key under 2^63 up to idBound = 10^12); the oracle packs with
    // the DEFAULT, so only the default runs under the hash gate
    val scored = Experiment.rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score"))
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("lang")), "doc_id")
    val guardedId = when(
      col("doc_id") < 0L || col("doc_id") >= lit(idBound),
      raise_error(lit("preferencePairs: doc_id outside the packed-key " +
        s"domain [0, $idBound) — widen idBound (and the oracle's " +
        "multiplier) before mining pairs on this corpus")))
      .otherwise(col("doc_id"))
    val key = col("score") * lit(idBound) + guardedId
    scored.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max_by(col("doc_id"), key).cast("long").as("chosen_id"),
        min_by(col("doc_id"), key).cast("long").as("rejected_id"),
        max(col("score")).cast("long").as("chosen_score"),
        min(col("score")).cast("long").as("rejected_score"))
      .where(col("n_docs") >= 2L)
      .withColumn("margin_micro",
        (col("chosen_score") - col("rejected_score")).cast("long"))
  }

  /** Contests: per (user, day), event types ranked by exact cents
    * (desc), ties broken by type name — a total order, so no
    * nondeterminism can leak into ranks. m = contest size.
    */
  private[graft] def contestRanked(
      spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts").cast("date").as("d"),
        col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("user_id"), col("d"), col("event_type"))
      .agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("cents").desc, col("event_type").asc)
    val wm = Window.partitionBy(col("user_id"), col("d"))
    cents.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wm).cast("long"))
  }

  /** Directed win counts on the bounded type² domain: wins(a, b) =
    * number of contests ranking a strictly above b. The self-join is
    * within one contest (≤ m² rows per contest, m ≤ |types|), keyed
    * on the contest key — one co-partitioned shuffle, never an
    * all-contests product.
    */
  private[graft] def pairWins(ranked: DataFrame): DataFrame =
    ranked.as("a")
      .join(ranked.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d") &&
          col("a.rk") < col("b.rk"))
      .groupBy(col("a.event_type").as("winner"),
        col("b.event_type").as("loser"))
      .agg(count(lit(1)).as("n_wins"))

  /** The q269 driver entry: BORDA + COPELAND PREFERENCE SCORES — the
    * two classic voting aggregates over the contest stream. Borda:
    * an alternative earns (m − rank) points per contest (winner of an
    * m-way contest gets m−1). Copeland: on the GLOBAL pairwise
    * matrix, +1 per opponent it beats strictly more often than it
    * loses to, −1 per opponent that beats it; the spine is the full
    * types×types cross (broadcast-tiny) so never-co-ranked pairs
    * count as ties. All exact integers end to end.
    */
  def preferenceScores(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = contestRanked(spark, sfDir)
    val borda = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_contests"),
        sum(col("m") - col("rk")).as("borda"))
    val wins = pairWins(ranked)
    val types = ranked.select(col("event_type")).distinct()
    val spine = types.as("ta").crossJoin(broadcast(types.as("tb")))
      .filter(col("ta.event_type") =!= col("tb.event_type"))
      .select(col("ta.event_type").as("t"), col("tb.event_type").as("opp"))
    val duels = spine
      .join(wins.withColumnRenamed("winner", "t")
        .withColumnRenamed("loser", "opp")
        .withColumnRenamed("n_wins", "w_for"), Seq("t", "opp"), "left")
      .join(wins.withColumnRenamed("loser", "t")
        .withColumnRenamed("winner", "opp")
        .withColumnRenamed("n_wins", "w_against"), Seq("t", "opp"), "left")
      .select(col("t"), coalesce(col("w_for"), lit(0L)).as("w_for"),
        coalesce(col("w_against"), lit(0L)).as("w_against"))
    val copeland = duels.groupBy(col("t").as("event_type"))
      .agg(sum(col("w_for")).as("wins"),
        sum(when(col("w_for") > col("w_against"), 1L)
          .when(col("w_for") < col("w_against"), -1L)
          .otherwise(0L)).as("copeland"))
    borda.join(copeland, Seq("event_type"))
      .select(col("event_type"), col("n_contests").cast("long"),
        col("borda").cast("long").as("borda"),
        col("wins").cast("long").as("wins"),
        col("copeland").cast("long").as("copeland"))
  }

  private[graft] val bradleyTerryIters = 15

  /** The q270 driver entry: BRADLEY-TERRY STRENGTHS by the MM
    * algorithm (Hunter 2004) — the model behind Elo-style leaderboard
    * fits on pairwise preference data, made exact with the q232
    * integer-iteration device: strengths live in micros, each MM
    * round computes
    *   denom_i = Σ_j (n_ij · 10⁶) DIV (p_i + p_j)   (per-term
    *     truncating division ⇒ the sum is order-independent),
    *   raw_i   = (W_i · 10¹²) DIV denom_i           (W_i = total wins),
    * then renormalizes Σp = 10⁶. Zero-win alternatives converge to
    * strength 0; alternatives enter the fit iff they appear in at
    * least one pairwise comparison (the win matrix is the domain).
    * 15 rounds on the collected types² win matrix run driver-side in
    * BigInt; the oracle replays every round as generated MATERIALIZED
    * CTEs over the same bounded domain.
    *
    * Scale shape: the only fact-scale stages are contestRanked's
    * contest shuffle and the within-contest pair count (both q269's);
    * iteration cost is O(types² · rounds), corpus-independent.
    */
  def bradleyTerry(
      spark: SparkSession, sfDir: String,
      iters: Int = bradleyTerryIters): DataFrame = {
    import spark.implicits._
    val wins = pairWins(contestRanked(spark, sfDir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = (wins.map(_._1) ++ wins.map(_._2)).distinct.sorted
    val idx = types.zipWithIndex.toMap
    val k = types.length
    val w = Array.ofDim[Long](k, k)
    wins.foreach { case (a, b, n) => w(idx(a))(idx(b)) = n }
    val wi = Array.tabulate(k)(i => w(i).sum)
    def nij(i: Int, j: Int): Long = w(i)(j) + w(j)(i)
    var p = Array.fill(k)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val denom = Array.tabulate(k)(i =>
        (0 until k).filter(j => j != i && nij(i, j) > 0)
          .map(j => BigInt(nij(i, j)) * 1000000 / (p(i) + p(j))).sum)
      val raw = Array.tabulate(k)(i =>
        if (denom(i) == 0) p(i)
        else BigInt(wi(i)) * BigInt(1000000) * BigInt(1000000) / denom(i))
      val sp = raw.sum
      if (sp != 0) p = raw.map(_ * 1000000 / sp)
    }
    types.indices.map(i => (types(i), wi(i), p(i).toLong))
      .toDF("event_type", "n_wins", "strength_micro")
  }

  /** The q353 driver entry: LENGTH-BIAS AUDIT of the q321 preference
    * pairs — the verbosity-bias check every RLHF/DPO data pass runs
    * before training a reward model (longer answers win human and
    * LLM judges far above their merit; a pair set where `chosen` is
    * systematically longer teaches the model to pad). Per q321 pair:
    * both members' character lengths, the signed gap, and the
    * chosen-is-longer flag; globally (broadcast onto each row): the
    * sign-test counts (`longer_ppm` over non-tied pairs — ≈ 500 000
    * for an unbiased judge) and the exact mean gap in milli-chars
    * (one signed trailing DIV, the q340 discipline).
    *
    * Scale shape: q321's bounded (source, lang) pair table joins the
    * doc-length projection twice on doc_id (both sides
    * broadcastable — the pair table is cell-bounded); the audit
    * aggregate lives on the pair domain.
    */
  def lengthBiasAudit(spark: SparkSession, sfDir: String,
      idBound: Long = 10000000L): DataFrame = {
    val lens = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("len"))
    val pairs = preferencePairs(spark, sfDir, idBound = idBound)
      .select(col("source"), col("lang"), col("chosen_id"),
        col("rejected_id"))
    val sized = broadcast(pairs)
      .join(lens.select(col("doc_id").as("chosen_id"),
        col("len").as("chosen_len")), "chosen_id")
      .join(lens.select(col("doc_id").as("rejected_id"),
        col("len").as("rejected_len")), "rejected_id")
      .select(col("source"), col("lang"), col("chosen_id"),
        col("rejected_id"), col("chosen_len"), col("rejected_len"),
        (col("chosen_len") - col("rejected_len")).cast("long")
          .as("len_gap"),
        (col("chosen_len") > col("rejected_len")).as("chosen_longer"))
    val glob = sized.agg(
      count(lit(1)).cast("long").as("n_pairs"),
      sum(when(col("chosen_longer"), 1L).otherwise(0L)).cast("long")
        .as("n_longer"),
      sum(when(col("chosen_len") === col("rejected_len"), 1L)
        .otherwise(0L)).cast("long").as("n_ties"),
      sum(col("len_gap")).cast("long").as("gap_sum"))
      .select(col("n_pairs"), col("n_ties"),
        expr("""CASE WHEN n_pairs > n_ties
            THEN n_longer * 1000000 DIV (n_pairs - n_ties) END""")
          .as("longer_ppm"),
        expr("gap_sum * 1000 DIV n_pairs").as("mean_gap_milli"))
    sized.crossJoin(broadcast(glob))
  }
}
