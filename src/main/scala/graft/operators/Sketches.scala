package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Cardinality / frequency sketches — the standard single-pass
  * approximations a 100 TB pipeline reaches for when exact answers
  * need a full shuffle of the key space (SURVEY.md §7.3 names
  * `approx_count_distinct` as the built-in sketch surface).
  *
  * Oracle posture: a sketch's VALUE is engine-specific (Spark's HLL++
  * vs DuckDB's HLL disagree by construction), so the hard driver
  * signal is structured as: (a) the exact count — computed by Spark,
  * hash-compared against DuckDB's COUNT(DISTINCT); (b) a boolean
  * `approx_ok` asserting the sketch landed within the documented
  * error bound, which the oracle claims as literal TRUE. A sketch
  * drifting out of bound therefore FAILS the hash compare — the
  * property is under the hard signal, not just a unit test.
  * SketchesSpec additionally pins the tighter observed error.
  */
object Sketches {

  /** Relative-error target handed to HLL++ (`rsd`). */
  val hllRsd = 0.05

  /** Accepted |approx - exact| / exact bound for `approx_ok`. HLL++ at
    * rsd=0.05 has σ ≈ 5%; 0.15 = 3σ. The sketch is deterministic for
    * fixed input (order-independent hashing), so this is a stable
    * gate, not a flaky one.
    */
  val hllBound = 0.15

  /** q39: distinct users per event_type — exact count (oracle-compared)
    * next to the HLL++ estimate folded into the `approx_ok` bound
    * check. At 100 TB the exact COUNT(DISTINCT) column is the one
    * you'd drop: it shuffles the full (event_type, user_id) key space,
    * while the sketch is a fixed-size buffer per group, mergeable
    * across partitions — partial aggregation does the map-side work.
    */
  def cardinality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), hllRsd).as("n_approx"))
      .select(
        col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * hllBound).as("approx_ok"))

  /** The raw (exact, approx) frame for SketchesSpec's error-bound
    * property.
    */
  def cardinalityRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), hllRsd).as("n_approx"))

  /** q67: the DAILY-SKETCH ROLLUP — the incremental-cardinality shape
    * a 100 TB pipeline actually runs: one HLL sketch per
    * (event_type, day) — in production these are persisted with each
    * day's partition — then `hll_union_agg` merges days and a single
    * estimate comes out; the raw events are never re-scanned for the
    * cross-day distinct. HLL insertion and union are
    * order-independent, so the estimate is deterministic under any
    * partitioning; it lands under the q39 bound-fold device next to
    * the exact count.
    */
  def hllMergeDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_approx"))
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .join(merged, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * hllBound).as("approx_ok"))
  }

  /** False-positive probability handed to the Bloom build. */
  val bloomFpp = 0.01

  /** q58: broadcast Bloom-filter PRE-FILTER ahead of a shuffle join —
    * the manual runtime-filter a 100 TB engine reaches for when the
    * build side is too big to broadcast-JOIN but its key set still
    * fits a few MB of Bloom bits: the probe side drops non-matching
    * rows BEFORE the exchange (at 1% selectivity that is ~99% of the
    * shuffle traffic), and the exact semi join afterwards removes the
    * false positives. Bloom filters have NO false negatives, so the
    * result is row-identical to the plain semi join — which is exactly
    * what the oracle asserts.
    *
    * The build-side `count()` is the standard pre-sizing pass; the
    * filter ships to executors as a broadcast variable, not a closure
    * copy per task. The filtered key set is persisted across its three
    * uses (pre-sizing count, bloom build, exact semi join) — without
    * that the build side is SCANNED THREE TIMES, which at 100 TB is
    * the dominant cost of the whole operator.
    */
  def bloomSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (joined, keys) = bloomSemiJoinPlanned(spark, sfDir, 300000.0)
    try joined.localCheckpoint(true)
    finally keys.unpersist()
  }

  /** The un-materialized join plus its persisted build side — split
    * out so SketchesSpec can assert the exact semi join reads the
    * build keys from the cache (the pre-sizing `count()` here is also
    * the action that fills it), i.e. the orders file is scanned once
    * per invocation, not three times.
    */
  private[graft] def bloomSemiJoinPlanned(
      spark: SparkSession, sfDir: String,
      priceFloor: Double): (DataFrame, DataFrame) = {
    val keys = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > priceFloor)
      .select(col("o_orderkey"))
      .persist()
    // the count and bloom build are ACTIONS between persist() and the
    // caller's unpersist — if either throws (executor loss, read
    // error), release the cache here instead of pinning the key set
    // in the block manager for the session lifetime
    try {
      val nKeys = keys.count()
      val probe = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      // an empty build side can't seed a bloom filter (and needs none:
      // the exact semi join below already yields zero rows)
      val preFiltered = if (nKeys == 0) probe else {
        val bfB = spark.sparkContext.broadcast(
          keys.stat.bloomFilter("o_orderkey", nKeys, bloomFpp))
        val might = udf((k: Long) => bfB.value.mightContain(k))
        probe.filter(might(col("l_orderkey")))
      }
      (preFiltered.join(keys,
        col("l_orderkey") === col("o_orderkey"), "left_semi"), keys)
    } catch {
      case t: Throwable => keys.unpersist(); throw t
    }
  }

  /** Count-min-sketch parameters: overcount is bounded by eps·N with
    * probability `cmsConfidence` (an UNDERcount is impossible —
    * counters only increase), and the sketch is exactly mergeable
    * (counter matrices add), so partial aggregation distributes it.
    */
  val cmsEps = 1e-4
  val cmsConfidence = 0.999
  val cmsProbeUsers = 10

  /** q60: per-event-type frequency of probe users — exact counts
    * (oracle-compared) next to a count-min-sketch estimate folded into
    * `approx_ok` via the CMS guarantee band [exact, exact + eps·N]
    * (the q39/q48 bound-fold device; fixed seed keeps the sketch
    * deterministic for fixed input). At 100 TB the exact per-item
    * count shuffles the full key space; the sketch is a fixed
    * eps⁻¹ × ln(1/δ) counter matrix per group.
    */
  def cmsFrequency(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"))
    val sk = ev.groupBy(col("event_type"))
      .agg(
        expr(s"count_min_sketch(user_id, ${cmsEps}d, ${cmsConfidence}d, 42)")
          .as("cms"),
        count(lit(1)).as("n_total"))
    val exact = ev.filter(col("user_id") < cmsProbeUsers)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    // one UDF evaluates the whole band check: the ~MB-scale sketch is
    // deserialized once per probe row (two separate est() calls in the
    // projection would each re-parse the byte array)
    val inBand = udf((bytes: Array[Byte], k: Long, exact: Long, cap: Long) => {
      val e = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
        .estimateCount(k)
      e >= exact && e <= cap
    })
    exact.join(sk, "event_type")
      .select(col("event_type"), col("user_id"), col("n_exact"),
        inBand(col("cms"), col("user_id"), col("n_exact"),
          col("n_exact") + ceil(lit(cmsEps) * col("n_total")).cast("long"))
          .as("approx_ok"))
  }

  /** Accuracy handed to `approx_percentile` (Greenwald-Khanna):
    * guaranteed rank error <= n / accuracy = 0.0001·n.
    */
  val quantileAccuracy = 10000

  /** Rank slack for the `approx_ok` gate: the sketched value must lie
    * between the EXACT quantiles at p ± 0.01. Sound because GK returns
    * an actual data value whose rank is within 0.0001·n of target and
    * values are monotone in rank — 0.01 ≫ 0.0001 leaves two orders of
    * margin, and the whole check is deterministic for fixed input
    * (same q39 posture: a sketch drifting out of bound FAILS the
    * oracle hash compare, not just a unit test).
    */
  val quantileSlack = 0.01

  /** q48: per-group quantiles — exact values (oracle-compared against
    * DuckDB's quantile_cont) next to the t-digest-class sketch folded
    * into `approx_ok`. At 100 TB the exact `percentile` is the column
    * you'd drop: it buffers each group's values; `approx_percentile`
    * is a fixed-size mergeable summary, so partial aggregation does
    * the map-side work. Completes the sketch family: HLL (q39),
    * MinHash (q22/q46), quantile (here).
    */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame = {
    def ex(p: Double) = percentile(col("l_quantity"), lit(p))
    def ap(p: Double) =
      approx_percentile(col("l_quantity"), lit(p), lit(quantileAccuracy))
    Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        ex(0.5).as("p50"), ex(0.95).as("p95"),
        ex(0.5 - quantileSlack).as("lo50"), ex(0.5 + quantileSlack).as("hi50"),
        ex(0.95 - quantileSlack).as("lo95"), ex(0.95 + quantileSlack).as("hi95"),
        ap(0.5).as("a50"), ap(0.95).as("a95"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("p50"), col("p95"), col("n_rows"),
        (col("a50").between(col("lo50"), col("hi50")) &&
          col("a95").between(col("lo95"), col("hi95"))).as("approx_ok"))
  }

  /** The q176 driver entry: AUDIENCE OVERLAP via HLL inclusion-
    * exclusion — the sketch COMPOSITION every analytics dashboard
    * runs: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where the union
    * estimate comes from MERGING the two per-type sketches
    * (hll_union), never from re-scanning the events. This is the op
    * that justifies persisting per-segment sketches (q67's daily
    * rollup): any pairwise overlap is then answerable from the
    * sketch store alone — at 100 TB the exact pairwise COUNT
    * (DISTINCT) would shuffle the (type, user) key space per pair,
    * while the sketches are a few KB each.
    *
    * Output contract is the q39/q48/q60 bound fold: the EXACT
    * overlap (oracle-compared) rides alongside `approx_ok`, which
    * asserts the inclusion-exclusion estimate landed within the
    * compounded band — THREE estimates enter the subtraction, so the
    * band is 3·hllBound scaled by the union's exact size (the
    * magnitude that dominates all three terms), plus a +5 absolute
    * floor for near-empty intersections where relative bounds are
    * meaningless. The exact pairwise join is the verification
    * scaffold, bounded: each user fans out to at most
    * C(|types|, 2) pairs.
    */
  def hllOverlap(spark: SparkSession, sfDir: String): DataFrame =
    hllOverlapOn(Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("user_id")).distinct())

  /** The operator over any distinct `(event_type, user_id)` frame
    * (spec entry point: overlap sizes pinned on crafted segments).
    */
  def hllOverlapOn(tu: DataFrame): DataFrame = {
    val sk = tu.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_exact"))
    val est = sk.as("a").join(sk.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.n_exact").as("n_a_exact"), col("b.n_exact").as("n_b_exact"),
        (hll_sketch_estimate(col("a.sk")) +
          hll_sketch_estimate(col("b.sk")) -
          hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
          .as("est"))
    val exact = tu.as("x").join(tu.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_overlap_exact"))
    est.join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        col("n_a_exact"), col("n_b_exact"),
        coalesce(col("n_overlap_exact"), lit(0L)).as("n_overlap_exact"),
        (abs(col("est") -
          coalesce(col("n_overlap_exact"), lit(0L)).cast("double")) <=
          (col("n_a_exact") + col("n_b_exact")).cast("double") *
            lit(3.0 * hllBound) + lit(5.0)).as("approx_ok"))
  }

  /** KMV geometry (q250): k = 32 smallest DISTINCT 60-bit md5-derived
    * hashes per group. The estimator is the classic order-statistics
    * form est = (k-1) * 2^60 / h_k (h_k = the k-th smallest hash),
    * computed entirely in integers — (k-1) * 2^60 ≈ 3.6e19 exceeds
    * signed 64-bit, so the numerator is DECIMAL(38,0) on the Spark
    * side and HUGEINT in the oracle (the q221 widening rule), with
    * truncating DIV both sides.
    */
  val KmvK = 32

  /** The q250 driver entry: K-MINIMUM-VALUES DISTINCT SKETCH — the
    * second mergeable cardinality sketch family next to HLL (q236):
    * where HLL keeps max-rank registers, KMV keeps the k smallest
    * distinct hash values, and two sketches MERGE as the k smallest
    * of the union — which is why per-shard KMV artifacts can roll up
    * to a global distinct estimate without re-scanning raw data.
    *
    * DETERMINISTIC BY CONSTRUCTION (unlike `approx_count_distinct`,
    * whose value is engine-specific and can only be bound-folded as
    * in q39/q67): the hash is the md5 device, so DuckDB recomputes
    * the identical sketch and the ESTIMATE ITSELF sits under the
    * exact hash compare. The output carries one row per event_type
    * plus an ALL row, and the ALL row is the merge proof: Spark
    * derives it by MERGING the per-type sketch rows (k smallest of
    * the union of per-type k-minima — raw hashes are not re-scanned),
    * while the oracle computes the ALL sketch from scratch over all
    * distinct user hashes; the hash compare passing IS the k-min
    * merge law `kmin_k(A ∪ B) = kmin_k(kmin_k(A) ∪ kmin_k(B))` on
    * the fixture (SketchesSpec pins it adversarially as well).
    *
    * Scale shape: the sketch frame is DISTINCT (type, hash) rows with
    * a rank-≤-k window — rk ≤ k triggers InferWindowGroupLimit (the
    * q118 device), so each partition ships at most k rows per group;
    * the merge reads the ≤ k·|types| sketch rows only. The exact
    * column is the audit the fixture affords (it full-shuffles the
    * key space — at 100 TB it is the column you drop).
    */
  def kmvSketch(spark: SparkSession, sfDir: String): DataFrame =
    kmvSketchOn(Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("user_id")))

  /** The ranked-and-filtered sketch frame BEFORE materialization —
    * exposed so SketchesSpec can assert the WindowGroupLimit pushdown
    * on the live plan (localCheckpoint truncates it).
    */
  private[graft] def kmvSketchFrame(tu: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("kmv:"),
      col("user_id").cast("string"))), 1, 15), 16, 10).cast("long")
    // distinct hashes per type — the sketch's input universe
    val hashes = tu.select(col("event_type"), h.as("h")).distinct()
    val rk = row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("h").asc))
    hashes.withColumn("rk", rk).where(col("rk") <= KmvK)
  }

  /** The operator over any `(event_type, user_id)` frame. */
  def kmvSketchOn(tu: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("kmv:"),
      col("user_id").cast("string"))), 1, 15), 16, 10).cast("long")
    // distinct hashes per type — the sketch's input universe
    val hashes = tu.select(col("event_type"), h.as("h")).distinct()
    val sketch = kmvSketchFrame(tu)
      .localCheckpoint(true) // reused thrice below; the frame is ≤ k·|types| rows
    // ALL = merge of the per-type sketches: k smallest of the union
    // of sketch hashes (hash values may repeat across types — the
    // union is over DISTINCT hash values, as KMV merge demands).
    val allRk = row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("h").asc))
    val merged = sketch.select(lit("ALL").as("event_type"), col("h"))
      .distinct()
      .withColumn("rk", allRk).where(col("rk") <= KmvK)
    val exact = hashes.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"))
      .unionByName(hashes.select(col("h")).distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("ALL").as("event_type"), col("n_exact")))
    val est = sketch.unionByName(merged)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_in_sketch"),
        max(when(col("rk") === KmvK, col("h"))).as("kth"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        col("n_in_sketch"),
        coalesce(col("kth"), lit(-1L)).as("kth_hash"),
        when(col("n_in_sketch") < KmvK, col("n_exact"))
          .otherwise(expr(
            s"CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) * ${1L << 60}) " +
              "DIV kth AS BIGINT)"))
          .as("est_distinct"))
  }

  /** The q253 driver entry: BITMAP-INDEX SEGMENT INTERSECTION — the
    * exact-set-operation artifact OLAP engines build where sketches
    * (q176's HLL overlap) would only estimate: per event_type, user
    * ids pack into 32-bits-per-word bitmaps (word = id DIV 32, bit =
    * id % 32 — 32 bits per BIGINT word, never 64, because shifting
    * past bit 62 is exactly the engine-pair asymmetry the q237 Bloom
    * build hit: DuckDB refuses `1 << 63` where Spark wraps), the
    * per-type bitmap is persisted and READ BACK as a parquet artifact
    * (the q221 lifecycle), and every pairwise audience intersection
    * and Jaccard similarity computes from the artifact alone —
    * `sum(bit_count(a & b))` joined on word index — without ever
    * re-touching the event log.
    *
    * Exactness: bitmaps are exact sets, so unlike every sketch entry
    * there is no error bound to fold — `n_inter` IS the intersection
    * cardinality, and the oracle replays the identical packing.
    *
    * Scale shape: the build is one groupBy on (type, word) with
    * map-side-combined BIT_OR partials — duplicate events collapse
    * into the partial bitmap before the exchange, so the shuffle
    * carries ≤ |id-space|/32 words per type, not event rows; pair
    * intersections join word-indexed artifact rows (≤ words × types),
    * never users. Requires a bounded non-negative id space (dictionary-
    * encode ids first at 100 TB — roaring-style containers are the
    * production refinement of exactly this layout).
    */
  def bitmapIntersect(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q253_bitmap", sfDir) { dir =>
      val words = Tables.load(spark, sfDir, "events")
        .select(col("event_type"),
          expr("user_id DIV 32").as("word"),
          (col("user_id") % 32).cast("int").as("bit"))
        .groupBy(col("event_type"), col("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("w"),
          count(lit(1)).as("n_events"))
      words.write.mode("overwrite").parquet(s"$dir/bitmap")
      val idx = Tables.parquet(spark, s"$dir/bitmap")
      val sizes = idx.groupBy(col("event_type"))
        .agg(sum(expr("bit_count(w)")).as("n_users"))
      val inter = idx.as("a").join(idx.as("b"),
          col("a.word") === col("b.word") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(sum(expr("bit_count(a.w & b.w)")).as("n_inter"))
      // the pair spine is types × types (bounded domain) so pairs
      // with an EMPTY intersection still emit a zero row
      val spine = sizes.as("sa").crossJoin(broadcast(sizes.as("sb")))
        .where(col("sa.event_type") < col("sb.event_type"))
        .select(col("sa.event_type").as("type_a"),
          col("sb.event_type").as("type_b"),
          col("sa.n_users").as("n_a"), col("sb.n_users").as("n_b"))
      spine.join(inter, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          expr("""CAST(coalesce(n_inter, 0) * 1000000
                  DIV (n_a + n_b - coalesce(n_inter, 0)) AS BIGINT)""")
            .as("jaccard_ppm"))
    }

  /** Mergeable Misra-Gries summary: a count map capped at `cap`
    * entries plus the EXACT number of items observed. The classic
    * guarantee (Misra & Gries 1982; merge rule per Agarwal et al.,
    * "Mergeable Summaries", PODS 2012): every key's summary count
    * undercounts its true frequency by at most n/(cap+1), and any key
    * with true frequency > n/(cap+1) is GUARANTEED present — so with
    * cap >= k, the summary is a no-false-negative candidate set for
    * "frequency > n/k" heavy hitters, in O(cap) memory per partition
    * regardless of the key cardinality.
    */
  case class MgSummary(counts: Map[Long, Long], n: Long)

  /** Typed Aggregator formulation: Spark's partial aggregation IS the
    * per-partition summary build and the exchange merge IS the
    * mergeable-summary union, so the whole sketch rides the engine's
    * existing two-phase aggregate machinery — at most `cap` map
    * entries per (partition, group) ever reach the shuffle.
    */
  class MisraGriesAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, MgSummary, MgSummary] {
    def zero: MgSummary = MgSummary(Map.empty, 0L)
    def reduce(b: MgSummary, key: Long): MgSummary =
      b.counts.get(key) match {
        case Some(c) => MgSummary(b.counts.updated(key, c + 1), b.n + 1)
        case None if b.counts.size < cap =>
          MgSummary(b.counts.updated(key, 1L), b.n + 1)
        case None =>
          // full + unseen key: the decrement step. The new key's one
          // count and one count of each incumbent cancel — cap+1
          // total count is destroyed, which can happen at most
          // n/(cap+1) times, hence the undercount bound.
          MgSummary(b.counts.collect {
            case (k, v) if v > 1 => k -> (v - 1)
          }, b.n + 1)
      }
    def merge(x: MgSummary, y: MgSummary): MgSummary = {
      val comb = (x.counts.keySet ++ y.counts.keySet).iterator
        .map(k => k -> (x.counts.getOrElse(k, 0L) + y.counts.getOrElse(k, 0L)))
        .toMap
      val trimmed =
        if (comb.size <= cap) comb
        else {
          // subtract the (cap+1)-th largest count from everything and
          // drop the non-positive: at most cap keys can strictly
          // exceed it, and the destroyed count per surviving key is
          // <= the bound's budget (Agarwal et al. Lemma 1).
          val d = comb.values.toIndexedSeq.sorted(Ordering[Long].reverse)(cap)
          comb.collect { case (k, v) if v > d => k -> (v - d) }
        }
      MgSummary(trimmed, x.n + y.n)
    }
    def finish(b: MgSummary): MgSummary = b
    def bufferEncoder: org.apache.spark.sql.Encoder[MgSummary] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MgSummary]()
    def outputEncoder: org.apache.spark.sql.Encoder[MgSummary] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MgSummary]()
  }

  /** The q267 driver entry: TWO-PASS EXACT HEAVY HITTERS — q132's
    * Gini says THAT the key distribution is skewed; this names WHICH
    * keys are hot (frequency > n/k over lineitem part keys), the
    * direct input to a salting / hot-key-isolation decision, without
    * ever shuffling the full key domain:
    *
    *   pass 1: a [[MisraGriesAgg]] global aggregate — per-partition
    *     state and the exchange payload are both bounded by the 1300-entry cap
    *     entries (vs the full distinct-key domain an exact groupBy
    *     ships; at 10^9 keys that bound is the whole point), and the
    *     MG theorem makes the surviving keys a SUPERSET of every true
    *     heavy hitter (cap >= k ⇒ undercount < threshold);
    *   pass 2: exact counts of the <= cap candidate keys only
    *     (an InSet literal filter — the pushed-down scan predicate —
    *     so the groupBy domain is the candidate set, not the corpus),
    *     then the exact threshold test. False positives die here;
    *     false negatives can't exist by the pass-1 guarantee.
    *
    * Output is therefore EXACT (the oracle is the plain exact HH
    * query); the sketch only bounds memory. cap == k == 1300 on the
    * 2000-distinct-key fixture so the trim path genuinely runs.
    */
  def heavyHittersExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey")).as[Long]
    val mg = keys.select(new MisraGriesAgg(1300).toColumn).head()
    val cands: Seq[Long] = mg.counts.keys.toSeq
    val n = mg.n
    keys.toDF("key")
      .filter(col("key").isInCollection(cands))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 1300 > lit(n))
      .select(col("key").as("l_partkey"), col("cnt").cast("long").as("cnt"),
        lit(n).as("n_total"),
        expr(s"CAST(cnt * 1000000 DIV $n AS BIGINT)").as("freq_micro"))
  }

  /** The q279 driver entry: TWO-PASS HISTOGRAM-REFINE EXACT MEDIAN —
    * the q267 candidate-then-recount posture applied to rank
    * statistics: an exact nearest-rank median of lineitem price cents
    * with NO corpus-wide sort and NO corpus-wide rank window (the two
    * things a naive `ORDER BY` median costs at 100 TB):
    *
    *   pass 1: (min, max, n) — one aggregate row;
    *   pass 2: a 1024-bucket equi-width histogram — the exchange
    *     carries ≤ 1024 counted rows; a bounded cumsum locates the
    *     single bucket containing rank k = ⌈n/2⌉;
    *   pass 3: ONLY that bucket's values (expected n/1024 of the
    *     corpus; exact range predicates on the cents expression) get
    *     a rank window — the value at rank (k − cum_before) is the
    *     median, exactly.
    *
    * Driver collects between passes are 1-row (the stats row, the
    * candidate bucket) — coordination state, not data. Degenerate
    * skew (one repeated value owning a bucket) only costs pass 3 the
    * duplicates of ~1/1024 of the value RANGE; a further recursion
    * level would bound it, documented not needed at these scales.
    * Bucket arithmetic is exact: bucket = (c−lo)·1024 DIV (hi−lo+1),
    * bounds by ceil-division, (c ≤ 10⁷ cents)·1024 far under 2⁶³.
    *
    * The oracle computes the SAME bucket bookkeeping in SQL but takes
    * the median by the direct full-sort nearest-rank — equality IS
    * the refinement-correctness theorem.
    */
  /** The q289 driver entry: WEIGHTED EXACT MEDIAN by histogram
    * refine — the q279 device generalized to weight mass: the
    * quantity-weighted median price ("the median shipped unit's
    * price"), the statistic behind fair-price and cost-allocation
    * reports, where the unweighted median (q279) answers a different
    * question (the median LINE's price). Same three passes — (min,
    * max, W) stats, a 1024-bucket histogram now carrying SUM(weight),
    * then a rank window over ONLY the candidate bucket's slice —
    * except the slice pass first collapses to DISTINCT cents (weight
    * summed per value), so the running-mass walk has no tie-order
    * freedom at all. k = ⌈(W+1)/2⌉; the median is the smallest value
    * whose cumulative mass reaches k. Driver collects are 1-row
    * coordination state (the q279 contract).
    *
    * The oracle computes the SAME bucket bookkeeping but takes the
    * median by the direct full-sort running-mass rule — equality is
    * the refinement-correctness theorem, weighted edition.
    */
  def weightedHistogramMedian(
      spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("wt"))
    val st = li.agg(min(col("cents")), max(col("cents")),
      coalesce(sum(col("wt")), lit(0L))).head()
    if (st.getLong(2) == 0L)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF("w_total", "min_cents", "max_cents", "k", "bucket",
          "bucket_mass", "median_cents")
    val (lo, hi, w) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val width = hi - lo + 1
    val k = (w + 1) / 2
    val cand = li
      .select(expr(s"CAST((cents - $lo) * 1024 DIV $width AS BIGINT)")
        .as("bucket"), col("wt"))
      .groupBy(col("bucket")).agg(sum(col("wt")).cast("long").as("bw"))
      .withColumn("cum_before", coalesce(
        sum(col("bw")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < k && col("cum_before") + col("bw") >= k)
      .head()
    val (bucket, bucketMass, cumBefore) =
      (cand.getLong(0), cand.getLong(1), cand.getLong(2))
    val bLo = lo + (bucket * width + 1023) / 1024
    val bHi = lo + ((bucket + 1) * width + 1023) / 1024
    // per-value mass inside the slice, then the running-mass walk
    val med = li.filter(col("cents") >= bLo && col("cents") < bHi)
      .groupBy(col("cents")).agg(sum(col("wt")).cast("long").as("vw"))
      .withColumn("cum", sum(col("vw")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cents").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .filter(col("cum") + cumBefore >= k)
      .orderBy(col("cents").asc)
      .head().getLong(0)
    Seq((w, lo, hi, k, bucket, bucketMass, med))
      .toDF("w_total", "min_cents", "max_cents", "k", "bucket",
        "bucket_mass", "median_cents")
  }

  def histogramMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .as("cents"))
    val st = li.agg(min(col("cents")), max(col("cents")), count(lit(1)))
      .head()
    // empty corpus: no median exists — an empty frame, not a throw
    // (EmptyInputSpec contract)
    if (st.getLong(2) == 0L)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF("n", "min_cents", "max_cents", "k", "bucket",
          "rows_in_bucket", "median_cents")
    val (lo, hi, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val width = hi - lo + 1
    val k = (n + 1) / 2
    val cand = li
      .select(expr(s"CAST((cents - $lo) * 1024 DIV $width AS BIGINT)")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < k && col("cum_before") + col("c") >= k)
      .head()
    val (bucket, inBucket, cumBefore) =
      (cand.getLong(0), cand.getLong(1), cand.getLong(2))
    // bucket b holds cents in [lo + ceil(b·w/1024), lo + ceil((b+1)·w/1024))
    val bLo = lo + (bucket * width + 1023) / 1024
    val bHi = lo + ((bucket + 1) * width + 1023) / 1024
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("cents").asc)
    // rank window over the one-bucket slice only (the whole point)
    val med = li.filter(col("cents") >= bLo && col("cents") < bHi)
      .withColumn("rk", row_number().over(wr).cast("long"))
      .filter(col("rk") === k - cumBefore)
      .head().getLong(0)
    Seq((n, lo, hi, k, bucket, inBucket, med))
      .toDF("n", "min_cents", "max_cents", "k", "bucket", "rows_in_bucket",
        "median_cents")
  }
}
