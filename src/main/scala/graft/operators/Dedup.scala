package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication suite over the `documents` table: exact,
  * n-gram-Jaccard (exact set similarity — the ground truth), MinHash
  * LSH (the 100 TB path), SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB / billions of docs):
  *  - exact dedup is a single hash shuffle on md5(text);
  *  - the n-gram self-join is quadratic in bucket size and exists as
  *    the correctness oracle for the sketch methods;
  *  - MinHash bands it to O(n) candidate generation: shingle ->
  *    64-slot signature -> 16 bands of 4 -> bucket join -> verify.
  *    Only candidate pairs (tiny) ever hit the quadratic step;
  *  - SimHash is one 64-bit value per doc; pigeonhole blocking on
  *    16-bit chunks finds all pairs within Hamming distance 3.
  */
object Dedup {

  import TextAnalysis.{normWords, normalizedText}

  /** Exact dedup: group identical (normalized) texts, keep the lowest
    * doc_id as the survivor. One shuffle on the digest — never on the
    * full text bytes (at 100 TB the texts are KB-scale, the digests
    * 16 bytes; shuffling digests is ~1000x less traffic).
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), md5(normalizedText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivors only (the materialized deduped table). */
  def exactSurvivors(spark: SparkSession, sfDir: String): DataFrame =
    exact(spark, sfDir).select(col("keep_id").as("doc_id"))

  // -------- word shingles --------

  /** Distinct word n-gram shingles per doc: (doc_id, shingle).
    * Words = whitespace split of normalized text; shingle = n
    * consecutive words joined by a single space. Docs shorter than n
    * words produce no shingles (dropped, like the reference drops
    * malformed lines).
    */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val words = normWords(col("text"))
    val exploded = docs
      .filter(size(words) >= n)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), size(words) - n),
            i => array_join(slice(words, i + 1, lit(n)), " "))).as("shingle"))
    exploded.distinct()
  }

  /** (doc_id, sh) 64-bit shingle hashes via the custom single-pass
    * expression — the hot-path twin of [[shingles]] (which builds
    * strings; DedupSpec pins that both agree on shingle counts).
    */
  def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(
      col("doc_id"),
      explode(graft.functions.TextExpressions.shingle_hashes(
        normalizedText(col("text")), n)).as("sh"))

  /** Stop-shingle cutoff: posting lists longer than this are dropped
    * from the index BEFORE sizes and pairs are computed, so the
    * semantics are "Jaccard over non-stop shingles". Without a cap,
    * one boilerplate shingle shared by 10⁶ docs yields 10¹² in-list
    * pairs — the classic inverted-index explosion. 1000 keeps every
    * fixture list (max ~dozens) and bounds any list's pair fan-out to
    * ~5·10⁵ at scale.
    */
  val defaultMaxPostingLen = 1000

  /** Per-doc list count `n_sh` of a capped posting index `(ids)`: the
    * shingle-set sizes of q21 and q240.
    */
  private def postingSizes(index: DataFrame): DataFrame =
    index
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

  /** Shared-list count `n_common` of every (id_a, id_b) pair that
    * `keep` admits among the co-members of each posting list of
    * `index`: all ordered pairs by two explodes + a filter, no
    * array-of-struct allocation per list element, which made this ~30%
    * faster than the nested transform/slice/struct formulation it
    * replaced (round-3 measurement; identical rows). The pair count of
    * q21 and q240.
    */
  private def postingPairs(index: DataFrame, keep: Column): DataFrame =
    index
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(keep)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))

  /** Exact n-gram Jaccard near-dup pairs (jaccard >= threshold,
    * a < b) via an inverted index: ONE shuffle builds posting lists
    * keyed by 64-bit shingle hash (distinct-per-doc folds into
    * collect_set — no separate distinct shuffle, no self-join
    * recompute of the shingle scan), then pairs are generated inside
    * each posting list and counted. Quadratic only within
    * identical-shingle postings, and those are capped at
    * `maxPostingLen` (stop-shingle cutoff); the sketch path
    * (minhashLshPairs) remains the intended 100 TB method — this
    * operator is the exact oracle.
    *
    * The posting index is persisted for its two consumers (sizes +
    * pair generation), the small pair result is materialized eagerly
    * (localCheckpoint), and the cache is released before returning —
    * no block-manager residue in long-lived sessions.
    */
  def ngramJaccardPairs(
      spark: SparkSession, sfDir: String,
      n: Int = 5, threshold: Double = 0.5,
      maxPostingLen: Int = defaultMaxPostingLen): DataFrame = {
    val raw = shingleHashes(Tables.load(spark, sfDir, "documents"), n)
    val index = raw
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxPostingLen)
      .persist()
    try {
      val sizes = postingSizes(index)
      val common = postingPairs(index, col("id_a") < col("id_b"))
      common
        .join(sizes.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard",
          col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
        .localCheckpoint(true)
    } finally index.unpersist()
  }

  /** The (1 − (1 − s^r)^b) banding S-curve as ONE expression string
    * shared verbatim between the Spark plan and the DuckDB oracle —
    * r and b are powers of two, so both powers are pure squaring
    * chains (each squaring is one IEEE multiply; no libm `pow`,
    * whose last-ulp behavior differs across engines).
    */
  private[graft] def sCurvePSql(r: Int, b: Int, s: String): String = {
    require(Integer.bitCount(r) == 1 && Integer.bitCount(b) == 1,
      "squaring chains need power-of-two r and b")
    def sq(x: String, k: Int): String =
      (1 to k).foldLeft(x)((e, _) => s"(($e) * ($e))")
    val sr = sq(s"($s)", Integer.numberOfTrailingZeros(r))
    s"(1.0 - ${sq(s"(1.0 - $sr)", Integer.numberOfTrailingZeros(b))})"
  }

  /** The q376 driver entry: LSH BANDING PLANNER — the analytic
    * complement to q332's empirical banding eval: before re-sharding
    * a 100 TB signature store onto a new (rows-per-band r, bands b)
    * split, compute what the change does to the near-dups the
    * pipeline ALREADY catches. For every q21-verified pair (exact
    * Jaccard s — the SQL-replayable truth; q22's signatures are not
    * SQL-expressible) and every 64-slot split r·b = 64, the catch
    * probability 1 − (1 − s^r)^b, floored to micro PER PAIR before
    * aggregation (the q334 float discipline). Per config: expected
    * catch rate over the observed near-dup population, the
    * worst-case pair, and how many pairs fall at risk (p < 0.9) —
    * the table that says "8-row bands would drop a third of what
    * 4-row bands catch at this corpus's similarity profile".
    *
    * Scale shape: the pair frame is q21's capped-posting-list output
    * (linear); each config arm is a row-local projection of it; the
    * final aggregate lands on the 5-row config domain.
    */
  def lshBandingPlanner(
      spark: SparkSession, sfDir: String,
      configs: Seq[(Int, Int)] =
        Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4))): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (r, b) => r * b == 64 },
      "configs split the 64-slot signature")
    val pairs = ngramJaccardPairs(spark, sfDir).select(col("jaccard"))
    configs.map { case (r, b) =>
      pairs.select(
        lit(r.toLong).as("rows_per_band"), lit(b.toLong).as("bands"),
        expr(s"CAST(floor(1000000.0 * ${sCurvePSql(r, b, "jaccard")}) " +
          "AS BIGINT)").as("p_micro"))
    }.reduce(_ unionByName _)
      .groupBy(col("rows_per_band"), col("bands"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        expr("CAST(SUM(p_micro) DIV COUNT(*) AS BIGINT)")
          .as("expected_catch_ppm"),
        min(col("p_micro")).cast("long").as("min_p_micro"),
        sum(when(col("p_micro") < 900000L, 1L).otherwise(0L)).cast("long")
          .as("n_at_risk"))
  }

  /** The q392 driver entry: CLUSTER-SIZE PROFILE — the dup-structure
    * headline on every corpus datasheet: the histogram of q44's
    * near-dup component sizes (how much of the corpus is singletons
    * vs pairs vs mega-clusters). The shape decides the dedup POLICY:
    * a pair-dominated profile suits drop-one (q25's cheap rule), a
    * heavy-tailed one demands canonicalization (q351) and soft
    * weights (q297) because dropping all-but-one of a 400-doc
    * cluster erases real mass. Per size: cluster count, doc count,
    * doc-share ppm, with corpus totals on every row.
    *
    * Scale shape: q44's banded-LSH + CC machinery (the only
    * fact-scale work), then two tiny aggregates — components, then
    * the size histogram (bounded by the largest cluster).
    */
  def clusterSizeProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val prof = docClusters(spark, sfDir)
      .groupBy(col("comp")).agg(count(lit(1)).cast("long").as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .withColumn("n_docs", (col("size") * col("n_clusters")).cast("long"))
    val tot = prof.agg(sum(col("n_docs")).cast("long").as("total_docs"),
      sum(col("n_clusters")).cast("long").as("total_clusters"))
    prof.crossJoin(broadcast(tot))
      .withColumn("doc_share_ppm",
        expr("n_docs * 1000000 DIV total_docs"))
  }

  /** The q385 driver entry: DEDUP-THRESHOLD YIELD CURVE — the
    * diminishing-returns table behind "how aggressive should the
    * near-dup threshold be": per candidate threshold (0.3 → 0.9),
    * the verified pair count, the documents a drop-higher-id policy
    * would remove, and the token mass recovered — tightening from
    * 0.5 to 0.3 usually buys little mass at real false-positive
    * risk, and THIS is the curve that shows it for the corpus at
    * hand. All arms read ONE q21 pair computation (the exact
    * Jaccard values are computed once at the loosest threshold;
    * each arm is a filter over the tiny pair frame — never a
    * recomputation of the posting-list join).
    *
    * Scale shape: one capped-posting-list pair pass (q21's linear
    * plan), then |T| cheap passes over the near-dup pair frame
    * (pairs ≪ corpus by construction) and a doc-grain token join
    * per arm on the dropped ids only.
    */
  /** q385 default threshold grid — named so the oracle generator and
    * the Spark default cannot silently diverge.
    */
  val yieldThresholdsPpm: Seq[Long] =
    Seq(300000L, 400000L, 500000L, 600000L, 700000L, 800000L, 900000L)

  def dedupYieldCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ngramJaccardPairs(spark, sfDir,
      threshold = yieldThresholdsPpm.head / 1000000.0)
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("ntok"))
    // a doc is dropped at threshold t iff it is id_b of SOME pair with
    // jaccard >= t, i.e. iff max(jaccard over its id_b pairs) >= t —
    // so ONE doc-grain tokenize+join serves every arm (the per-arm
    // dropped.join(toks) form re-ran the corpus regexp_count once per
    // threshold: dropped is broadcast-joined, so nothing below the
    // toks scan is shared across arms). Pinned because the |T| arms
    // are separate subplans over it; the frame is one row per
    // ever-dropped doc, never corpus-scale.
    val droppedMass = pairs
      .groupBy(col("id_b").as("doc_id")).agg(max(col("jaccard")).as("max_j"))
      .join(toks, Seq("doc_id"))
      .localCheckpoint(true)
    yieldThresholdsPpm.map { t =>
      val stats = pairs.where(col("jaccard") >= t / 1000000.0)
        .agg(count(lit(1)).cast("long").as("n_pairs"))
      val mass = droppedMass.where(col("max_j") >= t / 1000000.0)
        .agg(count(lit(1)).cast("long").as("n_docs_dropped"),
          coalesce(sum(col("ntok")), lit(0L)).cast("long")
            .as("tokens_recovered"))
      stats.crossJoin(broadcast(mass))
        .select(lit(t).as("threshold_ppm"), col("n_pairs"),
          col("n_docs_dropped"), col("tokens_recovered"))
    }.reduce(_ unionByName _)
  }

  /** The q240 driver entry: SHINGLE CONTAINMENT PAIRS — the
    * quote-inclusion detector resemblance dedup structurally misses:
    * containment C(a in b) = |A ∩ B| / |A| flags a document EMBEDDED
    * in a longer one (news wire inside an aggregator page, a license
    * block inside every file) where Jaccard dilutes below any
    * near-dup threshold as the container grows (Broder's original
    * containment/resemblance split; the Lee et al. 2022 superset-dup
    * case q165 audits at exact-substring grain, here at the
    * shingle-set grain that survives light edits). Containers are
    * PLANTED (the q235 twin device): every doc_id % 25 == 0 document
    * gains a synthetic container concatenating it with its successor
    * — contained docs score C ~ 1 inside it while their Jaccard to it
    * sits near 0.5, exactly the gap this operator exists to close.
    * Output is DIRECTED: (contained_id, container_id, n_common,
    * containment_micro >= 0.8).
    *
    * Scale shape: the q21 posting-index path (capped lists, pair
    * fan-out bounded per list); containment adds only the directed
    * emit and one integer division — no new exchange.
    */
  val ContainOffset = 7000000000L

  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val containers = docs.where(col("doc_id") % 25 === 0).as("a")
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select((col("a.doc_id") + ContainOffset).as("doc_id"),
        concat(col("a.text"), lit(" "), col("b.text")).as("text"))
    val planted = docs.unionByName(containers)
    val index = shingleHashes(planted, 5)
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= defaultMaxPostingLen)
      .persist()
    try {
      val sizes = postingSizes(index)
      val common = postingPairs(index, col("id_a") =!= col("id_b")) // DIRECTED
      common
        .join(sizes.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("n_sh", "n_a"), "id_a")
        .select(col("id_a").as("contained_id"),
          col("id_b").as("container_id"), col("n_common"),
          expr("CAST((n_common * 1000000) DIV n_a AS BIGINT)")
            .as("containment_micro"))
        .filter(col("containment_micro") >= 800000L)
        .localCheckpoint(true)
    } finally index.unpersist()
  }

  // -------- MinHash + LSH --------

  val numHashes = 64
  val numBands = 16
  val rowsPerBand: Int = numHashes / numBands

  /** MinHash signature: hash each shingle string ONCE (xxhash64),
    * then derive the 64 per-seed hashes from the cheap fixed-width
    * mix xxhash64(i, base). 64 `min` aggregates in ONE hash-aggregate
    * pass — no per-doc collect, no UDF, whole-stage codegen end to
    * end. Duplicate shingles don't change a min, so the distinct
    * shuffle is skipped.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 5): DataFrame = {
    val sh = shingleHashes(docs, n)
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: split the 64-slot signature into 16 bands of
    * 4; docs sharing any band hash are candidates. Emits (id_a, id_b,
    * est_jaccard) where est = fraction of matching signature slots —
    * the unbiased MinHash estimator of Jaccard.
    */
  /** MERGEABLE MinHash sketch as a typed Aggregator: the buffer is the
    * 64-slot signature itself, and `merge` is slot-wise min — so
    * partial sketches computed on different partitions (or different
    * DAYS of an incremental pipeline) combine into exactly the sketch
    * of the union. This is the persistable-sketch surface SURVEY §7.3
    * reserves for `TypedImperativeAggregate`-class needs; slot-wise
    * min is associative+commutative, so any merge tree yields the
    * identical signature (DedupSpec pins equality with the 64-column
    * SQL path).
    */
  class MinHashAgg extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(buf: Array[Long], row: (Long, Long)): Array[Long] = {
      val sh = row._2
      var i = 0
      while (i < numHashes) {
        // same per-seed mix as minhashSignatures: xxhash64(i, sh) —
        // Spark's multi-arg xxhash64 chains arg hashes from seed 42;
        // lit(i) is an INT literal there, so hash i as IntegerType
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(sh, org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.catalyst.expressions.XxHash64Function
              .hash(i, org.apache.spark.sql.types.IntegerType, 42L))
        if (h < buf(i)) buf(i) = h
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** (doc_id, band, bh) banded keys for a signature frame. */
  private def bandedKeys(sig: DataFrame): DataFrame = {
    val bandCols = (0 until numBands).map { b =>
      val slots = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(slots: _*).as("bh")).as(s"band_$b")
    }
    sig
      .select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        explode(array((0 until numBands).map(b => col(s"band_$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** LSH candidate pairs from a signature frame: band, bucket-join,
    * distinct. O(n) bucket rows; quadratic only within a band bucket.
    */
  private def minhashCandidates(sig: DataFrame): DataFrame = {
    val banded = bandedKeys(sig)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Estimate-verify candidate pairs against full signatures: fraction
    * of matching slots = the unbiased MinHash Jaccard estimator.
    */
  private def estVerify(
      cand: DataFrame, sig: DataFrame, threshold: Double): DataFrame = {
    val sigA = sig.toDF(sig.columns.toIndexedSeq.map(c => s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.toIndexedSeq.map(c => s"b_$c"): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigA, col("id_a") === col("a_doc_id"))
      .join(sigB, col("id_b") === col("b_doc_id"))
      .withColumn("est_jaccard", matches.cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** EXACT n-gram Jaccard verification of candidate pairs (id_a, id_b)
    * against per-doc shingle sets (doc_id, shs) — the shared tail of
    * every verified dedup path ([[minhashLshPairsVerified]],
    * [[minhashIncrementalVerified]], [[minhashIncrementalPersisted]]).
    * Quadratic work only on the (few) candidates; output is exact
    * scores, so the operators run under the exhaustive DuckDB oracle.
    */
  private def verifyExactJaccard(
      cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("n_common"),
        size(col("shs_a")).as("n_a"), size(col("shs_b")).as("n_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))

  /** Fuzzy record linkage (q111): match a dirty ingest batch against
    * a clean registry at edit distance <= 1 WITHOUT the O(n*m)
    * all-pairs levenshtein — SymSpell-style DELETION-NEIGHBORHOOD
    * blocking. Each name emits itself plus every single-character
    * deletion (L+1 short keys); any substitution, insertion, or
    * deletion between two names forces a shared key, so the key
    * equi-join is a COMPLETE candidate generator for distance <= 1
    * (k > 1 generalizes by deleting up to k characters).
    *
    * The blocking runs on the DISTINCT-NAME DICTIONARY, never on
    * rows: real catalogs repeat names heavily, and row-level blocking
    * makes candidate fan-out quadratic in duplicate-name density —
    * measured, not guessed: the row-blocked form probed 25.6× wall at
    * 10× data (ScalingProbe, names repeating across copies) while
    * this form is linear. Deletion keys, key-collision dedup, and the
    * exact levenshtein verify all touch only distinct names (a
    * bounded dictionary even at 100 TB corpus scale); the id fan-back
    * is two plain equi-joins on matched names — linear in the true
    * output. The dirty batch replays deterministic typos ('#'
    * substitution / prepend / first-char deletion on %13 keys) so the
    * oracle brute-forces the same ground truth under a length-band
    * prefilter.
    */
  def fuzzyLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.load(spark, sfDir, "part")
    val clean = part.select(
      col("p_partkey").as("clean_id"), col("p_name").as("cn"))
    val dirty = part.filter(col("p_partkey") % 13 === 0)
      .select((col("p_partkey") + 100000).as("dirty_id"),
        when(col("p_partkey") % 3 === 0,
          concat(lit("#"), expr("substring(p_name, 2)")))
          .when(col("p_partkey") % 3 === 1, concat(lit("#"), col("p_name")))
          .otherwise(expr("substring(p_name, 2)")).as("dn"))
    // name + every single-char deletion, deduped (repeated letters
    // collapse to the same key)
    def delKeys(df: DataFrame, nameCol: String) =
      df.select(col(nameCol),
        explode(array_union(array(col(nameCol)),
          transform(sequence(lit(1), length(col(nameCol))), i =>
            concat(col(nameCol).substr(lit(1), i - lit(1)),
              col(nameCol).substr(i + lit(1), length(col(nameCol)) - i)))))
          .as("k"))
    val namePairs = delKeys(dirty.select(col("dn")).distinct(), "dn")
      .join(delKeys(clean.select(col("cn")).distinct(), "cn"), "k")
      .select(col("dn"), col("cn")).distinct()
      .filter(levenshtein(col("dn"), col("cn")) <= 1)
      .withColumn("dist", levenshtein(col("dn"), col("cn")).cast("long"))
    dirty.join(namePairs, "dn").join(clean, "cn")
      .select(col("dirty_id"), col("clean_id"), col("dist"))
  }

  /** The q283 driver entry: FELLEGI–SUNTER PROBABILISTIC LINKAGE —
    * the SCORING layer q111's blocking feeds (Fellegi & Sunter 1969,
    * the model behind every production record-linkage system):
    * per-field agreement weights ln(m/u) for agreement and
    * ln((1−m)/(1−u)) for disagreement, summed into a log-likelihood
    * score, thresholded into match / possible / non-match. m (field
    * agreement probability among TRUE matches) is the conventional
    * fixed 19/20; u (chance agreement among NON-matches) is estimated
    * FROM THE DATA: 1/|distinct| for the high-cardinality fields
    * (name, balance cents), Σ cntᵢ²/N² over the nation distribution
    * for the bounded field — all exact-integer sufficient statistics,
    * each weight ONE identical-tree double chain floored to
    * micro-nats (the q170 discipline), so scores compare as BIGINTs.
    *
    * Candidates come from a two-channel blocking UNION (the
    * multi-pass posture real linkers run): a (nation, cents)
    * composite equi-join ∪ name deletion-neighborhood (q111's
    * device, complete for levenshtein ≤ 1 and post-filtered to it)
    * — a nation-flipped record is still reachable through its name,
    * a name-mangled one through its other fields; the dirty×clean
    * cartesian never forms, and BOTH block keys have cardinality
    * that grows with the data, so block sizes stay bounded. The
    * perturbed copy plants all three damage types (char deletion
    * %2, nation flip %5, +100-cent balance drift %3), so every
    * agreement pattern and verdict class is exercised. Only
    * match/possible pairs emit (a linker's output); the oracle
    * brute-forces the same candidate definition with a direct OR
    * join and replays the weight arithmetic verbatim.
    *
    * Scale shape: both blocking channels are equi-joins (nation key;
    * deletion key); scoring is row-local on the candidate grain; the
    * weights ride in as a broadcast 1-row frame. N² terms live in
    * DOUBLE (exact to 2⁵³ — documented bound, the q221 rule).
    */
  def fellegiSunter(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.load(spark, sfDir, "customer")
    val clean = cust.select(
      col("c_custkey").as("clean_id"), col("c_name").as("cn"),
      col("c_nationkey").cast("long").as("c_nat"),
      floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("c_cents"))
    val dirty = cust.filter(col("c_custkey") % 11 === 0)
      .select((col("c_custkey") + 1000000L).as("dirty_id"),
        when(col("c_custkey") % 2 === 0,
          concat(col("c_name").substr(lit(1), lit(1)),
            expr("substring(c_name, 3)")))
          .otherwise(col("c_name")).as("dn"),
        when(col("c_custkey") % 5 === 0,
          (col("c_nationkey").cast("long") + 7) % 25)
          .otherwise(col("c_nationkey").cast("long")).as("d_nat"),
        (floor(col("c_acctbal") * 100.0 + 0.5).cast("long") +
          when(col("c_custkey") % 3 === 0, 100L).otherwise(0L))
          .as("d_cents"))
    // channel A: (nation, cents) composite equi-join — a key whose
    // cardinality grows WITH the data, so blocks stay bounded at any
    // corpus size (nation alone would grow blocks linearly and pair
    // counts quadratically — the q111 blocking lesson)
    val blockA = dirty.select(col("dirty_id"),
        col("d_nat").as("bn"), col("d_cents").as("bc"))
      .join(clean.select(col("clean_id"),
        col("c_nat").as("bn"), col("c_cents").as("bc")), Seq("bn", "bc"))
      .select(col("dirty_id"), col("clean_id"))
    // channel B: deletion-neighborhood on name (q111), lev <= 1
    def delKeys(df: DataFrame, c: String) =
      df.select(col("*"), explode(array_union(array(col(c)),
        transform(sequence(lit(1), length(col(c))), i =>
          concat(col(c).substr(lit(1), i - lit(1)),
            col(c).substr(i + lit(1), length(col(c)) - i))))).as("k"))
    val blockB = delKeys(dirty.select(col("dirty_id"), col("dn")), "dn")
      .join(delKeys(clean.select(col("clean_id"), col("cn")), "cn"), "k")
      .filter(levenshtein(col("dn"), col("cn")) <= 1)
      .select(col("dirty_id"), col("clean_id"))
    val cand = blockA.unionByName(blockB).distinct()
    // u statistics + micro-nat weights as a broadcast 1-row frame
    val stats = clean.agg(
        count_distinct(col("cn")).cast("double").as("dn_"),
        count_distinct(col("c_cents")).cast("double").as("db_"),
        count(lit(1)).cast("double").as("n_"))
      .crossJoin(broadcast(
        clean.groupBy(col("c_nat")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).cast("double").as("s2_"))))
    val weights = stats.select(
      expr("CAST(FLOOR(1000000.0 * ln((19.0 * dn_) / 20.0)) AS BIGINT)")
        .as("w_name_a"),
      expr("CAST(FLOOR(1000000.0 * ln(dn_ / (20.0 * (dn_ - 1.0)))) AS BIGINT)")
        .as("w_name_d"),
      expr("CAST(FLOOR(1000000.0 * ln((19.0 * n_ * n_) / (20.0 * s2_))) AS BIGINT)")
        .as("w_nat_a"),
      expr("CAST(FLOOR(1000000.0 * ln((n_ * n_) / (20.0 * (n_ * n_ - s2_)))) AS BIGINT)")
        .as("w_nat_d"),
      expr("CAST(FLOOR(1000000.0 * ln((19.0 * db_) / 20.0)) AS BIGINT)")
        .as("w_bal_a"),
      expr("CAST(FLOOR(1000000.0 * ln(db_ / (20.0 * (db_ - 1.0)))) AS BIGINT)")
        .as("w_bal_d"))
    cand
      .join(dirty, "dirty_id").join(clean, "clean_id")
      .crossJoin(broadcast(weights))
      .withColumn("name_agree", levenshtein(col("dn"), col("cn")) <= 1)
      .withColumn("nat_agree", col("d_nat") === col("c_nat"))
      .withColumn("bal_agree", col("d_cents") === col("c_cents"))
      .withColumn("score_micro",
        when(col("name_agree"), col("w_name_a")).otherwise(col("w_name_d")) +
        when(col("nat_agree"), col("w_nat_a")).otherwise(col("w_nat_d")) +
        when(col("bal_agree"), col("w_bal_a")).otherwise(col("w_bal_d")))
      .withColumn("verdict",
        when(col("score_micro") >= 12000000L, "match")
          .when(col("score_micro") >= 1000000L, "possible"))
      .filter(col("verdict").isNotNull)
      .select(col("dirty_id"), col("clean_id"), col("name_agree"),
        col("nat_agree"), col("bal_agree"),
        col("score_micro").cast("long").as("score_micro"), col("verdict"))
  }

  /** INCREMENTAL near-dup: pairs that involve at least one NEW doc,
    * against a persisted signature corpus — the shape a daily 100 TB
    * ingest needs: signatures for history are READ (tiny: 64 longs per
    * doc, the mergeable-sketch property of [[MinHashAgg]] even lets
    * partial-day sketches combine), only the new batch is shingled and
    * hashed. Candidates = new banded keys bucket-joined against
    * (existing ∪ new); old×old pairs are never regenerated.
    */
  /** Candidate pairs touching the NEW batch: new banded keys
    * bucket-joined against the full signature set; old×old pairs never
    * appear. Shared by [[minhashIncrementalPairs]] (estimate output)
    * and [[minhashIncrementalVerified]] (exact output, the q45 entry).
    */
  private def incrementalCandidates(
      newSig: DataFrame, allSig: DataFrame): DataFrame =
    bandedKeys(newSig).as("a")
      .join(bandedKeys(allSig).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()

  def minhashIncrementalPairs(
      newDocs: DataFrame, existingSig: DataFrame): DataFrame = {
    val newSig = minhashSignatures(newDocs, 5).persist()
    try {
      val allSig = existingSig.unionByName(newSig)
      estVerify(incrementalCandidates(newSig, allSig), allSig, 0.5)
        .localCheckpoint(true)
    } finally newSig.unpersist()
  }

  /** `doc_id % newBatchModulus == 0` is the day's NEW batch of the
    * incremental dedup entries (q45, q46, q350); the rest is history.
    */
  private val newBatchModulus = 5

  /** The q45 driver entry: incremental (daily-ingest-shaped) near-dup
    * under the hard oracle. The `documents` table is split
    * deterministically — `doc_id % newModulus == 0` is the NEW batch,
    * the rest is history — and only pairs touching the new batch are
    * emitted: candidates come from [[incrementalCandidates]] (new
    * banded keys vs all signatures, old×old never regenerated), then
    * the few candidates are verified with EXACT n-gram Jaccard, so
    * the oracle is the exhaustive q21 SQL restricted to pairs touching
    * the new set (equal whenever banded recall at the threshold is
    * complete — the q22 precedent).
    *
    * At 100 TB the history side reads persisted signatures (64 longs
    * per doc; [[MinHashAgg]] even merges partial-day sketches) and the
    * verification sets come from the candidate docs' text only; the
    * fixture has one table, so both derive from the same scan here —
    * the plan shape (what joins what) is the production one.
    */
  def minhashIncrementalVerified(
      spark: SparkSession, sfDir: String,
      newModulus: Int = newBatchModulus): DataFrame = {
    val sh = shingleHashes(Tables.load(spark, sfDir, "documents"), 5)
      .persist() // feeds signatures AND verification sets; released below
    try {
      val mins = (0 until numHashes).map(i =>
        min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
      val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      val newSig = sig.filter(col("doc_id") % newModulus === 0)
      val cand = incrementalCandidates(newSig, sig)
      val sets = sh.groupBy(col("doc_id"))
        .agg(collect_set(col("sh")).as("shs"))
      verifyExactJaccard(cand, sets, 0.5).localCheckpoint(true)
    } finally sh.unpersist()
  }

  /** Candidate pairs touching the new batch, with the HISTORY side
    * banded from an already-persisted signature frame: `histSig` must
    * reach banding without any scan of document text (its shingling
    * happened "yesterday"). See [[persistedCandidates]] for the
    * DedupSpec-audited plan contract.
    */
  def bandAgainstHistory(histSig: DataFrame, newSig: DataFrame): DataFrame =
    incrementalCandidates(newSig, histSig.unionByName(newSig))

  /** Write MinHash signatures for the history half of `documents`
    * (doc_id % newBatchModulus != 0) to `sigPath` via the mergeable
    * [[MinHashAgg]] sketch — 64 longs per doc, bit-equal to the
    * 64-column SQL path (DedupSpec), partial-day sketches merge
    * associatively. The "yesterday" step of the persisted-signature
    * daily-ingest pipeline.
    */
  def persistHistorySignatures(
      spark: SparkSession, sfDir: String, sigPath: String): Unit = {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    shingleHashes(docs.filter(col("doc_id") % newBatchModulus =!= 0), 5)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .agg(new MinHashAgg().toColumn.name("sig"))
      .toDF("doc_id", "sig")
      .write.mode("overwrite").parquet(sigPath)
  }

  /** Read a persisted signature parquet back into the wide
    * (doc_id, mh_0..mh_63) layout the banding machinery consumes.
    */
  def readSignatures(spark: SparkSession, sigPath: String): DataFrame =
    Tables.parquet(spark, sigPath).select(
      col("doc_id") +:
        (0 until numHashes).map(i => col("sig")(i).as(s"mh_$i")): _*)

  /** MinHash signatures of the NEW batch only (doc_id % newBatchModulus
    * == 0). This frame's plan scans `documents` exactly once —
    * DedupSpec asserts that — and [[persistedCandidates]] materializes
    * it eagerly so banding's two uses of it never re-scan.
    */
  def newBatchSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    val newSh = shingleHashes(
      Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") % newBatchModulus === 0), 5)
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
    newSh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** The "today" candidate subtree of the persisted pipeline: history
    * signatures are READ from `sigPath` (never recomputed), only the
    * new batch is shingled and signed ([[newBatchSignatures]], one
    * documents scan, materialized eagerly because it feeds both
    * branches of the banding union), and [[bandAgainstHistory]] bands
    * new against (history ∪ new). The returned frame's plan reads
    * document TEXT zero times — history arrives only as 64-long
    * signatures — which DedupSpec asserts: its only parquet scan is
    * `sigPath`.
    */
  def persistedCandidates(
      spark: SparkSession, sfDir: String, sigPath: String): DataFrame = {
    val histSig = readSignatures(spark, sigPath)
    val newSig =
      newBatchSignatures(spark, sfDir).localCheckpoint(true)
    bandAgainstHistory(histSig, newSig)
  }

  /** The q46 driver entry: the PERSISTED-signature daily-ingest path —
    * the behavior a real daily 100 TB ingest lives or dies on, run
    * end-to-end under the hard oracle (same exhaustive restricted SQL
    * as q45; identical output, different — production — plan shape):
    *
    *  1. "yesterday": [[persistHistorySignatures]] materializes the
    *     history signatures to parquet (the q19 render-your-own-input
    *     precedent);
    *  2. "today": [[persistedCandidates]] reads the signatures back,
    *     shingles only the new batch, and bands new against history —
    *     the banding subtree never touches history text;
    *  3. verification fetches the TEXT of candidate docs only (a
    *     join-filtered documents scan — at 100 TB that is the standard
    *     point lookup of the few candidate docs), and exact n-gram
    *     Jaccard decides.
    *
    * `sigPath`: where the signatures live. Default is a
    * [[Scratch.withScratch]] leaf (unique per application and
    * invocation, so concurrent verify/bench sessions never race),
    * deleted once no job of the invocation still reads it. Local-mode
    * only — on a real cluster pass a shared-filesystem path
    * (HDFS/object store), which is also the path a real daily pipeline
    * would keep, not delete.
    */
  def minhashIncrementalPersisted(
      spark: SparkSession, sfDir: String,
      sigPath: Option[String] = None): DataFrame = {
    // feeds the id fetch AND the verification join: cached until the
    // result is pinned
    var cand: Option[DataFrame] = None
    def verified(path: String): DataFrame = {
      persistHistorySignatures(spark, sfDir, path)
      val docs = Tables.load(spark, sfDir, "documents")
      val c = persistedCandidates(spark, sfDir, path).persist()
      cand = Some(c)
      val candIds = c
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      // candidate docs' shingle sets — the only place history text is
      // read, and only for docs that appear in a candidate pair
      val sets = shingleHashes(docs.join(candIds, "doc_id"), 5)
        .groupBy(col("doc_id"))
        .agg(collect_set(col("sh")).as("shs"))
      verifyExactJaccard(c, sets, 0.5)
    }
    try sigPath match {
      case Some(path) => verified(path).localCheckpoint(true)
      case None => Scratch.withScratch(spark, "q46_sig", sfDir)(verified)
    } finally cand.foreach(_.unpersist())
  }

  def minhashLshPairs(
      spark: SparkSession, sfDir: String,
      n: Int = 5, threshold: Double = 0.5): DataFrame = {
    // sig feeds banding once and verification twice: cache it (tiny —
    // 64 longs per doc; at 1B docs this is the standard cluster-wide
    // persist for LSH verification). Released before returning: the
    // small pair result is materialized eagerly (localCheckpoint).
    val sig = minhashSignatures(Tables.load(spark, sfDir, "documents"), n)
      .persist()
    try {
      // estimate Jaccard from full signatures (cheap: pairs are few)
      estVerify(minhashCandidates(sig), sig, threshold).localCheckpoint(true)
    } finally sig.unpersist()
  }

  /** The full production MinHash-LSH dedup pipeline: sketch-banded
    * candidate generation (O(n), the 100 TB path) + EXACT n-gram
    * Jaccard verification of the (few) candidates — so the output is
    * exact similarity scores, not estimates, and the operator runs
    * under the hard DuckDB oracle (the same SQL as the exhaustive
    * q21; equality holds whenever LSH recall at the threshold is
    * complete, which the banding parameters are chosen for).
    * Verification joins candidate ids back to per-doc shingle sets;
    * only candidate docs' sets are intersected.
    */
  def minhashLshPairsVerified(
      spark: SparkSession, sfDir: String,
      n: Int = 5, threshold: Double = 0.5): DataFrame = {
    val sh = shingleHashes(Tables.load(spark, sfDir, "documents"), n)
      .persist() // feeds signatures AND verification sets; released below
    try {
      val mins = (0 until numHashes).map(i =>
        min(xxhash64(lit(i), col("sh"))).as(s"mh_$i"))
      val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      val cand = minhashCandidates(sig)
      val sets = sh.groupBy(col("doc_id"))
        .agg(collect_set(col("sh")).as("shs"))
      verifyExactJaccard(cand, sets, threshold).localCheckpoint(true)
    } finally sh.unpersist()
  }

  // -------- SimHash --------

  /** SimHash width: 60 bits. The token hash is the first 15 hex chars
    * of md5 — a deliberately ORACLE-PORTABLE choice: DuckDB computes
    * the identical value as `('0x'||substr(md5(tok),1,15))::BIGINT`,
    * so the whole fingerprint (integer votes, integer sign, integer
    * OR) is reproducible in ANSI-ish SQL and q23 runs under the hard
    * hash-compare instead of `no_oracle`. 60 vs 64 bits changes
    * nothing about the method; 15-bit chunks keep the pigeonhole
    * property for dist <= 3.
    */
  val simhashBits = 60
  val simhashChunks = 4
  val simhashChunkBits: Int = simhashBits / simhashChunks // 15

  /** 60-bit SimHash per doc: per token hash, each bit votes +1/-1
    * weighted by term frequency; the sign of each bit-sum is the
    * fingerprint bit. One explode + one aggregate, all codegen'd
    * expressions; all-integer math, so the result is exact under any
    * partitioning.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      explode(normWords(col("text"))).as("tok"))
      .withColumn("th",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until simhashBits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"bit_$b")
    }
    val sums = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until simhashBits).map { b =>
      when(col(s"bit_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    sums.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance <= maxDist.
    * Blocking: split the 60-bit hash into 4 x 15-bit chunks; any pair
    * within distance 3 must agree on >= 1 chunk (pigeonhole), so an
    * equi-join per chunk finds all of them without O(n^2).
    */
  def simhashPairs(
      spark: SparkSession, sfDir: String, maxDist: Int = 3): DataFrame = {
    val sh = simhash(Tables.load(spark, sfDir, "documents"))
    val chunks = sh.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until simhashChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * simhashChunkBits)
            .bitwiseAND((1L << simhashChunkBits) - 1).as("ck"))
      }: _*)).as("blk"))
      .select(col("doc_id"), col("simhash"),
        col("blk.chunk").as("chunk"), col("blk.ck").as("ck"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** CDC geometry (q239): 8-char window hash (md5 nibble — the exact
    * portable stand-in for a Rabin/Gear rolling hash: same
    * content-defined boundary class, SQL-replayable), boundary when
    * the 16-bit window hash % 64 == 0 -> expected 64-char chunks.
    * Min/max chunk bounds are deliberately omitted: they make the
    * boundary decision STATEFUL (a boundary suppresses neighbors),
    * which no per-position predicate expresses — raw gear CDC is the
    * stateless subset both engines replay exactly.
    */
  val CdcWindow = 8
  val CdcBoundaryRate = 64

  /** (doc_id, source, text) with the q100 boilerplate injected:
    * [[boilerplateHeader]] prepended where doc_id % 3 == 0,
    * [[boilerplateFooter]] appended where doc_id % 5 == 0. The input
    * of q239 and q248, the Spark twin of the injection in the oracle's
    * `cdcSpanCtes`.
    */
  private def boilerplatedDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 3 === 0, lit(boilerplateHeader + " "))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 5 === 0, lit(" " + boilerplateFooter))
            .otherwise(lit(""))).as("text"))

  /** The q239 driver entry: CONTENT-DEFINED CHUNKING DEDUP — the
    * storage-layer dedup device (restic/borg lineage, and the delta
    * layer under corpus snapshots): chunk boundaries are functions of
    * CONTENT, not offsets, so a shared passage chunks identically in
    * every document that contains it regardless of position — the
    * axis doc-level (q20), line-level (q100), and n-gram (q21) dedup
    * all miss when an edit shifts offsets. Boilerplate is injected by
    * the q100 device (header on doc_id % 3, footer on % 5) so shared
    * passages exist at every SF; per source the entry reports chunk
    * instances, distinct chunks, duplicate instances, the dup ratio,
    * and mean chunk length — the table that prices a chunk store.
    *
    * Scale shape: boundary detection + chunk extraction are ROW-LOCAL
    * higher-order-function expressions inside the scan (the q155
    * projection-boundary discipline for the reused arrays); chunk
    * text reduces to a 16-byte digest before the per-source
    * aggregate, so text never enters the exchange (q20's rule).
    */
  def cdcChunkStats(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunkStatsOn(boilerplatedDocs(spark, sfDir))

  /** The operator over any (doc_id, source, text) frame — spec entry
    * point (the offset-invariance property is pinned on crafted
    * shared passages).
    */
  /** The row-local chunker shared by q239 (stats) and q248
    * (provenance): (doc_id, source, chunk) rows.
    */
  private[graft] def cdcChunks(docsIn: DataFrame): DataFrame =
    // one compiled pass per row (boundary scan + chunk slicing) in a
    // custom expression — the SQL HOF form it replaces interpreted
    // the md5 window lambda per character position and is kept as the
    // differential twin in DedupSpec (byte-identical chunks pinned on
    // the fixture + multi-byte adversarial literals)
    docsIn.where(length(col("text")) >= 1)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExpressions.cdc_chunk_strings(
          col("text"), CdcWindow, CdcBoundaryRate)).as("chunk"))

  def cdcChunkStatsOn(docsIn: DataFrame): DataFrame =
    cdcChunks(docsIn)
      .select(col("source"), md5(col("chunk")).as("dg"),
        length(col("chunk")).cast("long").as("clen"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(col("dg")).as("n_distinct_chunks"),
        sum(col("clen")).as("n_chars"))
      .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
        (col("n_chunks") - col("n_distinct_chunks")).as("dup_instances"),
        expr("""CAST(((n_chunks - n_distinct_chunks) * 1000000)
              DIV n_chunks AS BIGINT)""").as("dup_ratio_micro"),
        expr("CAST((n_chars * 1000000) DIV n_chunks AS BIGINT)")
          .as("mean_chunk_len_micro"))

  /** The q248 driver entry: SHARED-PASSAGE PROVENANCE — the
    * retrieval half of q239's chunk store: which document PAIRS share
    * which content-defined chunks (the question behind "where did
    * this passage come from" audits and license-contamination
    * triage). CDC chunk digests post into the q21 capped inverted
    * index; pairs count shared distinct chunks. Chunks under
    * 16 chars are excluded — sentinel-scale fragments
    * (the inter-boundary slivers every doc produces) would pair
    * everything; a >= 16-char shared chunk is a shared PASSAGE.
    *
    * Scale shape: q239's row-local chunking feeds 16-byte digests
    * into the posting index; fan-out is bounded per posting list by
    * the q21 cap; text never enters an exchange.
    */
  def cdcProvenance(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = cdcChunks(boilerplatedDocs(spark, sfDir))
      .where(length(col("chunk")) >= 16)
      .select(col("doc_id"), md5(col("chunk")).as("dg"))
      .distinct()
    val index = chunks.groupBy(col("dg"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= defaultMaxPostingLen)
    index
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  // -------- eval-set decontamination --------

  /** Benchmark/eval-set decontamination (q83): (train_id, eval_id,
    * n_common) for every training doc sharing at least one word
    * n-gram with an eval doc — the standard pre-training hygiene step
    * (eval answers leaking into the corpus inflate benchmark scores),
    * run as n-gram collision exactly like the published pipelines.
    * Eval set = `doc_id % 97 == 0` (a held-out slice of the fixture);
    * production swaps in the real benchmark suite.
    *
    * Scale shape: the eval side is SMALL by construction (benchmark
    * suites are MBs against a 100 TB corpus), so its distinct gram
    * hashes BROADCAST — the corpus-side gram stream joins without a
    * shuffle, and only MATCHED (train, eval, gram) rows reach the
    * pair-count exchange. Gram fan-out is bounded by eval-side
    * occurrences per gram (≤ eval size), never by corpus posting
    * lists, so no stop-shingle cap is needed on this join. n = 3 on
    * the synthetic fixture (real suites use 8-13-gram windows over
    * natural text; the device is identical).
    */
  def decontaminationPairs(
      spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val evalSh = shingleHashes(docs.filter(col("doc_id") % 97 === 0), n)
      .withColumnRenamed("doc_id", "eval_id").distinct()
    val trainSh = shingleHashes(docs.filter(col("doc_id") % 97 =!= 0), n)
      .withColumnRenamed("doc_id", "train_id")
    trainSh.join(broadcast(evalSh), "sh")
      // countDistinct, not count: the corpus side skips its own
      // per-doc distinct shuffle (shingleHashes emits raw grams)
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("sh")).as("n_common"))
  }

  private val bloomGramN = 3

  /** The q237 driver entry: BLOOM-PREFILTERED DECONTAMINATION — the
    * scale form of q83's eval-overlap hygiene: instead of
    * broadcasting the full eval n-gram set against the corpus, the
    * eval grams fold into a 2^16-bit Bloom filter (bit_or over 2048
    * words — a 16 KB artifact no matter how large the suite grows),
    * the corpus gram stream probes it as a narrow broadcast-join
    * expression (both probe bits set -> candidate), and only
    * candidates meet the exact eval-set join. Output is the FUNNEL
    * the curation team reads: eval gram count, corpus gram
    * instances, Bloom candidates, true hits, and the realized
    * false-positive rate among true negatives in micro units — the
    * number that says whether m/k are sized right for the suite.
    *
    * Counts are over corpus gram INSTANCES (doc-grain occurrences),
    * so the corpus side never needs a global distinct: grams are a
    * narrow per-row explode, both joins broadcast, and the only
    * exchange is the final 1-row aggregate — the 100 TB posture (the
    * q83 exact join remains the verification tail on the candidate
    * slice alone).
    *
    * All-integer and exactly replayed in SQL. Bloom geometry: m =
    * 2^16 bits packed 32 per BIGINT word (2048 bit_or'd words, a
    * 16 KB broadcast; 32-bit packing keeps every shift <= 31 —
    * DuckDB's checked BIGINT arithmetic refuses 1 << 63 where Spark
    * wraps silently, the q221 divergence class), k = 2 probe
    * positions from hex nibbles 1-4 and 5-8 of md5(gram) — the md5
    * device (q23/q31) keeps every bit position SQL-derivable, unlike
    * the FNV shingle hash the q21/q83 join path uses internally.
    * Membership is shift-and-mask.
    */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    def grams(df: DataFrame): DataFrame = {
      val w = normWords(col("text"))
      df.select(col("doc_id"), w.as("w"))
        .where(size(col("w")) >= bloomGramN)
        .select(explode(transform(
          sequence(lit(1), size(col("w")) - (bloomGramN - 1)),
          i => array_join(slice(col("w"), i, lit(bloomGramN)), " ")))
          .as("g"))
    }
    def pos1(g: Column) = conv(substring(md5(g), 1, 4), 16, 10).cast("long")
    def pos2(g: Column) = conv(substring(md5(g), 5, 4), 16, 10).cast("long")
    val evalG = grams(docs.filter(col("doc_id") % 97 === 0)).distinct()
    val bloom = evalG
      .select(explode(array(pos1(col("g")), pos2(col("g")))).as("pos"))
      .select(shiftright(col("pos"), 5).as("wi"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
          .as("bit"))
      .groupBy(col("wi")).agg(expr("bit_or(bit)").as("bits"))
    val trainG = grams(docs.filter(col("doc_id") % 97 =!= 0))
      .select(col("g"), pos1(col("g")).as("p1"), pos2(col("g")).as("p2"))
    val probed = trainG
      .join(broadcast(bloom.as("b1")),
        shiftright(col("p1"), 5) === col("b1.wi"), "left")
      .join(broadcast(bloom.as("b2")),
        shiftright(col("p2"), 5) === col("b2.wi"), "left")
      .select(col("g"),
        (expr("shiftright(coalesce(b1.bits, CAST(0 AS BIGINT)), " +
          "CAST(p1 % 32 AS INT)) % 2") === 1 &&
         expr("shiftright(coalesce(b2.bits, CAST(0 AS BIGINT)), " +
          "CAST(p2 % 32 AS INT)) % 2") === 1).as("cand"))
    val hit = probed
      .join(broadcast(evalG.withColumn("hit", lit(true))), Seq("g"), "left")
      .select(col("cand"), coalesce(col("hit"), lit(false)).as("hit"))
    hit.agg(
      count(lit(1)).as("n_train_gram_instances"),
      sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"),
      sum(when(col("hit"), 1L).otherwise(0L)).as("n_true_hits"))
      .crossJoin(broadcast(evalG.agg(count(lit(1)).as("n_eval_grams"))))
      .select(col("n_eval_grams"), col("n_train_gram_instances"),
        col("n_candidates"), col("n_true_hits"),
        expr("""CAST((n_candidates - n_true_hits) * 1000000
              DIV (n_train_gram_instances - n_true_hits) AS BIGINT)""")
          .as("false_pos_micro"))
  }

  // -------- line-level (boilerplate) dedup --------

  /** Header/footer boilerplate lines injected into the fixture so the
    * operator has real work at every scale factor: docs with
    * `doc_id % 3 == 0` get the header, `% 5 == 0` the footer. The
    * oracle replays the same injection in SQL.
    */
  val boilerplateHeader = "subscribe to our newsletter for updates"
  val boilerplateFooter = "all rights reserved contact us"

  private val lineChunkWords = 10

  /** Line-level corpus dedup (q100) — the CCNet/RefinedWeb
    * boilerplate-removal step: split every document into lines, count
    * each line's occurrences across the WHOLE corpus, drop lines
    * appearing more than 5 times (nav bars, cookie
    * banners, copyright footers repeat across a site; prose doesn't),
    * and reassemble the surviving lines in original order. Documents
    * whose every line is boilerplate survive with empty text — they
    * are filter *candidates* for a downstream quality gate, not
    * silently dropped rows.
    *
    * The fixture's documents are single-line, so "lines" are
    * synthesized as consecutive `lineChunkWords`-word windows plus the
    * injected [[boilerplateHeader]]/[[boilerplateFooter]]; the
    * production operator is the same plan over `split(text, '\n')`.
    *
    * Scale shape: the occurrence count groups by the line's 16-byte
    * md5 digest with map-side partial aggregation — line TEXT never
    * enters that exchange. Text shuffles exactly twice, both
    * irreducible: once keyed by digest to meet its count (at high
    * 5 the over-threshold digest set is small enough to
    * broadcast as an anti-join instead, eliminating this one), and
    * once keyed by doc_id to reassemble. Per-doc state is bounded by
    * document size, so no key can skew the reassembly exchange.
    */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val w = split(col("text"), " ")
    // position-explode + top-level slice/array_join (the round-18
    // codegen rule; the lambda form was interpreted per chunk) — the
    // exploded sequence value IS the former array index, so `pos`
    // and the chunk expression are unchanged
    val chunks = docs.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0),
          ceil(size(col("w")) / lit(lineChunkWords.toDouble)).cast("int") - 1)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        array_join(slice(col("w"), col("col") * lineChunkWords + 1,
          lit(lineChunkWords)), " ").as("line"))
    val header = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit(0L).as("pos"),
        lit(boilerplateHeader).as("line"))
    val footer = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(1000000L).as("pos"),
        lit(boilerplateFooter).as("line"))
    val lines = chunks.unionByName(header).unionByName(footer)

    val counts = lines.groupBy(md5(col("line")).as("h"))
      .agg(count(lit(1)).as("c"))
    val kept = lines.join(counts, md5(col("line")) === col("h"))
      .filter(col("c") <= 5)
    val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    val reassembled = kept.groupBy("doc_id").agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    totals.join(reassembled, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  // -------- near-dup cluster resolution --------

  /** Connected components over a near-dup pair graph (id_a, id_b) by
    * iterative min-label propagation: every doc ends up labeled with
    * the smallest doc_id reachable through any chain of pairs — the
    * transitive-closure-correct survivor rule (A~B, B~C puts A,B,C in
    * ONE cluster even when A~C was never emitted). Returns
    * (id, comp).
    *
    * Scale shape: each iteration is one join + one aggregate over the
    * EDGE set (near-dup pairs — tiny relative to the corpus), and the
    * label frame is eagerly materialized per iteration
    * (localCheckpoint) to truncate lineage — the standard requirement
    * for iterative DataFrame algorithms. Iterations needed =
    * graph diameter in components (near-dup clusters are shallow;
    * maxIter bounds pathological chains). The per-iteration
    * convergence check is a driver-side COUNT, not a data collect.
    *
    * `reliable = false` (default) truncates lineage with
    * `localCheckpoint(true)`: fastest, but the checkpoint lives in
    * executor storage — losing one executor mid-iteration kills the
    * job. On a long-running 1000-node cluster pass `reliable = true`
    * to use `checkpoint()` against the configured (HDFS/object-store)
    * checkpoint dir instead: each iteration's labels survive executor
    * loss. DedupSpec asserts both modes yield identical labels.
    */
  def connectedComponents(
      pairs: DataFrame, reliable: Boolean = false): DataFrame = {
    def materialize(df: DataFrame): DataFrame =
      if (!reliable) df.localCheckpoint(true)
      else {
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            System.getProperty("java.io.tmpdir", "/tmp") + "/graft_checkpoints")
        df.checkpoint()
      }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = materialize(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < 20) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("comp").as("src_comp")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_comp")).as("nbr_comp"))
      // the changed-flag is computed IN the update pass (old and new
      // comp sit in the same row pre-projection), so convergence is a
      // filter over the materialized frame instead of a second
      // updated-x-labels join per iteration (round-18; identical
      // labels, one less job per iteration)
      val updatedFlagged = materialize(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            =!= col("comp")).as("chg")))
      converged = updatedFlagged
        .filter(col("chg")).limit(1).count() == 0
      labels = updatedFlagged.select(col("id"), col("comp"))
      i += 1
    }
    labels
  }

  /** Cluster-correct near-dup survivors: drop every doc whose
    * component label is not its own id (the min-id doc of each
    * near-dup cluster survives). The transitive upgrade of
    * CleanPipeline's cheap drop-b policy.
    */
  def nearDupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLshPairsVerified(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val comps = connectedComponents(pairs)
    docs.join(comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** The q297 driver entry: SOFT-DEDUP LOSS WEIGHTS — the
    * alternative to deletion that modern pretraining mixes favor
    * (keep every copy, downweight so each near-dup CLUSTER
    * contributes ~one document of loss mass): weight_micro =
    * 10⁶ DIV cluster_size over q44's connected near-dup components,
    * singletons at full weight. Hard dedup (q44) throws information
    * away when near-dups differ in their tails; soft weights keep
    * the tails and still kill the repetition gradient — and the
    * artifact is a per-doc column a data loader joins, not a
    * filtered corpus rebuild.
    *
    * Components come from the production MinHash-LSH + exact-verify
    * path; the oracle recomputes them from the exhaustive Jaccard
    * truth, so equality rides the pinned complete-banded-recall
    * precondition (the q22/q220 caveat, spec-pinned in DedupSpec).
    *
    * Scale shape: q22's candidate path + one comp-keyed size
    * aggregate + one comp-keyed join-back; weights are row-local.
    */
  def softDedupWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val withComp = docClusters(spark, sfDir)
    val sizes = withComp.groupBy(col("comp"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    withComp.join(sizes, "comp")
      .select(col("doc_id"), col("comp").as("cluster_rep"),
        col("cluster_size"),
        expr("CAST(1000000 DIV cluster_size AS BIGINT)")
          .as("weight_micro"))
  }

  /** Every document's near-dup cluster id (singletons = own id) —
    * the q44 components through the production LSH path, shared by
    * q297 weights and q298 folds.
    *
    * SIDE EFFECT (round-18 advice): the returned frame is pinned with
    * an EAGER localCheckpoint, so merely CONSTRUCTING it (explain-only
    * paths, PlanDump) executes the full LSH + connected-components
    * pipeline, and the pinned blocks live until the caller's
    * session-level unpersist hygiene runs (Bench.runOnce / QuickTime /
    * Verify all drop dead blocks between entries). Accepted for the
    * 2-3x consumer reuse documented below.
    */
  private[graft] def docClusters(
      spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLshPairsVerified(spark, sfDir)
    val comps = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("comp"))
    Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      // pin: every consumer (q297 weights, q298 folds, q303 batches,
      // q363 size profile) reads this frame 2-3x — sizes aggregate +
      // join-back, count + chunked rank — and unpinned each read
      // re-ran the doc scan + comps join (the q291 shared-subtree
      // rule; pairs/labels are already materialized upstream)
      .localCheckpoint(true)
  }

  /** The q298 driver entry: STRATIFIED GROUP K-FOLD — the evaluation
    * split that respects BOTH leakage axes at once: folds must be
    * cluster-atomic (a near-dup pair across train/validation
    * inflates every metric — q162's lesson) AND stratum-balanced
    * (each fold should mirror the language mix, or per-fold metrics
    * are incomparable). sklearn's StratifiedGroupKFold is a greedy
    * sequential assigner; the relational form deals clusters
    * ROUND-ROBIN within each stratum ordered by (cluster size desc,
    * rep asc) — fold = (rank−1) mod K — which is deterministic,
    * one rank window per stratum, and balances cluster counts
    * per (stratum, fold) to within one while spreading the big
    * clusters first. A cluster's stratum is its majority language
    * (ties by language asc).
    *
    * Scale shape: q22's candidate path + two bounded-key windows
    * (stratum-keyed rank over CLUSTERS, not docs) + one comp-keyed
    * join-back.
    */
  def stratifiedGroupKFold(spark: SparkSession, sfDir: String): DataFrame = {
    val withComp = docClusters(spark, sfDir)
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang")), "doc_id")
    val langCnt = withComp.groupBy(col("comp"), col("lang"))
      .agg(count(lit(1)).cast("long").as("c"))
    val stratum = langCnt
      .withColumn("rk", row_number().over(Window.partitionBy(col("comp"))
        .orderBy(col("c").desc, col("lang").asc)))
      .filter(col("rk") === 1)
      .select(col("comp"), col("lang").as("stratum"))
    val sizes = withComp.groupBy(col("comp"))
      .agg(count(lit(1)).cast("long").as("sz"))
    val folds = sizes.join(stratum, "comp")
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("stratum"))
          .orderBy(col("sz").desc, col("comp").asc)).cast("long"))
      .select(col("comp"), col("stratum"),
        ((col("crk") - 1L) % 5).cast("long").as("fold"))
    withComp.join(folds, "comp")
      .select(col("doc_id"), col("comp").as("cluster_rep"),
        col("stratum"), col("fold"))
  }

  private val contrastiveBatchSize = 8

  /** The q303 driver entry: CLUSTER-DISJOINT CONTRASTIVE BATCH
    * MANIFEST — the batch-construction rule contrastive training
    * (CLIP/SimCLR-style in-batch negatives) needs from the dedup
    * stack: two near-duplicates inside one batch become a FALSE
    * NEGATIVE (the loss pushes apart what should attract), so
    * batches must be cluster-disjoint. Construction makes the law
    * hold by design instead of auditing after the fact: docs order
    * by (cluster's salted hash, cluster, member hash, id) — cluster
    * members are CONSECUTIVE — and the round-robin deal
    * batch = (rank−1) mod n_batches then lands same-cluster members
    * in distinct batches whenever cluster_size ≤ n_batches (the
    * q298 dealing device, one level down). Deterministic,
    * re-runnable, and the spec pins both the disjointness law and
    * its precondition.
    *
    * Scale shape: q22's candidate path for clusters, then one global
    * rank over salted keys via [[Relational.chunkedRowNumber]] (the
    * q202 chunked device — bucket on the leading hash key's 2-hex
    * prefix, 256 bounded buckets, per-bucket partitioned windows;
    * round-13 verdict replaced the partition-less global window
    * here); the manifest is batch-grain.
    */
  def contrastiveBatches(spark: SparkSession, sfDir: String): DataFrame = {
    val withComp = docClusters(spark, sfDir)
    // max(1, ...) keeps the modulus sound on an empty corpus
    val nb = math.max(1L, (withComp.count() + contrastiveBatchSize - 1) /
      contrastiveBatchSize).toInt
    val clusterSalt = md5(concat(lit("cb:"), col("comp").cast("string")))
    val ranked = Relational.chunkedRowNumber(withComp,
      bucket = substring(clusterSalt, 1, 2),
      order = Seq(clusterSalt.asc, col("comp").asc,
        md5(concat(lit("cb:"), col("doc_id").cast("string"))).asc,
        col("doc_id").asc))
      .withColumn("batch_id", ((col("rk") - 1L) % nb).cast("long"))
    ranked.groupBy(col("batch_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count_distinct(col("comp")).cast("long").as("n_clusters"),
        md5(concat_ws(",", array_sort(
          collect_list(col("doc_id").cast("string"))))).as("batch_digest"))
      .withColumn("n_collisions",
        (col("n_docs") - col("n_clusters")).cast("long"))
  }

  // -------- embedding near-dup --------

  /** Embedding-cosine near-duplicates, exact all-pairs cartesian.
    * TEST-ONLY ORACLE: O(n²) pairs — correct at fixture scale, a
    * scale-killer at 10⁹ vectors. The production path is
    * [[embeddingPairsLsh]]; DedupSpec asserts the two agree on planted
    * near-dups. Cosine is computed in double with a fixed
    * left-to-right accumulation, deterministic under any partitioning.
    */
  def embeddingPairs(
      spark: SparkSession, sfDir: String, threshold: Double = 0.95): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), graft.functions.Vectors.l2normalize(col("embedding")).as("u"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.Vectors.dot(col("a.u"), col("b.u")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Default LSH table layout for corpus×corpus near-dup: 16 tables ×
    * 8 bits = 128 deterministic hyperplanes (each table draws its own
    * disjoint plane family via planeOffset). A pair is a candidate iff
    * ALL bits of at least one table agree.
    *
    * Recall math at the operator's contract point (cosine >= 0.95,
    * angle <= 18.2°, per-plane agree prob 1 - θ/π ≈ 0.899):
    * per-table match 0.899⁸ ≈ 0.43, miss-all-16 ≈ 0.57¹⁶ ≈ 1.2e-4;
    * at cosine 0.99 the miss probability is ~7e-9. Precision is exact:
    * every candidate is verified with the true DotProduct cosine.
    *
    * SIZE THE BITS TO THE CORPUS: expected bucket occupancy is
    * n / 2^bits per table, and candidate count grows as
    * tables × n² / 2^bits — with FIXED bits that is quadratic with a
    * small constant (measurable in ScalingProbe: 30× corpus → 18×
    * wall at 8 bits). Rule: bits ≈ log2(n / k) for target occupancy k
    * (e.g. 1B vectors, k=1000 → 20 bits), then re-derive tables for
    * the recall target from miss = (1 - a^bits)^tables.
    */
  val embedLshTables = 16
  val embedLshBitsPerTable = 8

  /** Scale path for embedding near-dup: corpus×corpus multi-table
    * hyperplane LSH. Candidate generation is an equi-join on
    * (table, chunk) — O(n) bucket rows, quadratic only within a
    * bucket (n/2^bits expected; AQE skew-join splits hot buckets) —
    * then candidates are verified with the exact cosine. The corpus
    * shuffles its (vec_id, table, chunk) triples — `embedLshTables` small
    * rows per vector, never the vector itself; vectors are joined back
    * only for the (few) candidate ids.
    */
  def embeddingPairsLsh(
      spark: SparkSession, sfDir: String, threshold: Double = 0.95,
      bitsPerTable: Int = embedLshBitsPerTable): DataFrame =
    normalizedPairsLsh(
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          graft.functions.Vectors.l2normalize(col("embedding")).as("u")),
      threshold, bitsPerTable)

  /** [[embeddingPairsLsh]] generalized to any pre-normalized
    * `(vec_id, u: array<double>)` corpus frame — the planted-copy q24
    * entry and tests feed augmented corpora through the same plan.
    */
  def normalizedPairsLsh(
      e: DataFrame, threshold: Double, bitsPerTable: Int): DataFrame = {
    import graft.functions.VectorExpressions.lsh_bucket
    require(bitsPerTable <= 64, "a table code is one Long")
    val chunks = e.select(
      col("vec_id"),
      explode(array((0 until embedLshTables).map { t =>
        struct(lit(t).as("tbl"),
          lsh_bucket(col("u"), bitsPerTable, t * bitsPerTable).as("ck"))
      }: _*)).as("blk"))
      .select(col("vec_id"), col("blk.tbl").as("tbl"), col("blk.ck").as("ck"))
    val cand = chunks.as("a")
      .join(chunks.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.ck") === col("b.ck") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("u").as("ua")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("u").as("ub")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.Vectors.dot(col("ua"), col("ub")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Planted-copy parameters for [[embeddingNearDupPlanted]]: every
    * `plantEvery`-th vector gets a near-duplicate copy at
    * `vec_id + plantIdOffset` whose element 0 is nudged by
    * [[plantEps]] (then re-normalized). With eps 0.2 the copy's cosine
    * to its original is >= 0.979 for any unit vector, comfortably over
    * the 0.95 contract threshold, while all organic fixture pairs stay
    * below 0.52 — so the expected output is exactly the planted pairs.
    */
  val plantEvery = 10
  val plantIdOffset = 1000000L
  val plantEps = 0.2

  /** The q24 driver entry: corpus×corpus near-dup LSH over the
    * embeddings table AUGMENTED with deterministic planted
    * near-duplicate copies. The fixture's organic max pairwise cosine
    * is 0.51 — no honest threshold yields rows — so, following the
    * q19 render-your-own-input precedent, the query plants its own
    * near-dups: copy = re-normalized (u + eps·e0) at a shifted id.
    * Every arithmetic step (add, square, left-to-right sum, sqrt,
    * divide, dot) is single-op IEEE double math the DuckDB oracle
    * replays bit-identically, and LSH recall at cosine >= 0.979 is
    * 1 - ~6e-7 per pair — the oracle compares REAL rows (50 pairs at
    * sf0.01), closing the round-2 vacuous-PASS gap.
    */
  def embeddingNearDupPlanted(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vectors.l2normalize(col("embedding")).as("u"))
    val nudged = transform(col("u"),
      (x, i) => when(i === 0, x + lit(plantEps)).otherwise(x))
    val planted = e.filter(col("vec_id") % plantEvery === 0)
      .select((col("vec_id") + plantIdOffset).as("vec_id"),
        graft.functions.Vectors.l2normalize(nudged).as("u"))
    normalizedPairsLsh(e.unionByName(planted), 0.95, embedLshBitsPerTable)
  }

  /** The q158 driver entry: SemDeDup (Abbas et al. 2023) — semantic
    * deduplication by CLUSTER-BLOCKED cosine: assign every embedding
    * to its nearest codebook centroid (Similarity.assignCells — the
    * q32 IVF machinery reused verbatim), compare pairs only WITHIN a
    * cell, and mark the higher-id member of every above-threshold
    * pair as a duplicate of the lowest-id vector it matched. This is
    * the third blocking scheme next to hyperplane LSH
    * ([[embeddingPairsLsh]], recall from random projections) and
    * MinHash bands (lexical): clustering concentrates semantically
    * close vectors into the same block, so the quadratic term runs
    * over cell populations, not the corpus — the published SemDeDup
    * recipe for LAION/web-scale corpora.
    *
    * Scale shape: centroids broadcast (assignment is linear);
    * vectors shuffle ONCE on c_id for the within-cell self-join;
    * with k centroids sized to n/k vectors per cell the pair work is
    * n²/k — k grows with the corpus (SemDeDup used 50k clusters for
    * 5B embeddings) and hot cells split via AQE skew-join handling.
    * The keep-lowest-id rule is the paper's keep-one-per-group
    * simplification (no transitive closure — [[connectedComponents]]
    * composes on the pair output when cluster-exact survivors are
    * needed; DedupSpec pins the containment relation between the
    * two).
    *
    * Exactness devices for the oracle: cosine similarity FLOORS to
    * integer micro-units the moment it is computed (the q114
    * device), so the threshold compare and the max/min aggregates
    * are integer-exact; the seeded (lowest-id) codebook is the q32
    * determinism rule, keeping k-means training out of the compare
    * path.
    */
  def semDedup(
      spark: SparkSession, sfDir: String,
      clusters: Int = 16, thresholdMicro: Long = 300000L): DataFrame = {
    val corpus = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vectors.l2normalize(col("embedding")).as("u"))
    val cells = Similarity.assignCells(
      corpus, Similarity.seededCodebook(corpus, clusters))
    val withV = cells.join(corpus, "vec_id")
    val pairs = withV.as("a")
      .join(withV.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("keeper"),
        floor(graft.functions.Vectors.dot(col("a.u"), col("b.u")) * 1e6)
          .cast("long").as("sim_micro"))
      .where(col("sim_micro") >= thresholdMicro)
    val dups = pairs.groupBy(col("vec_id"))
      .agg(min(col("keeper")).as("kept_for"),
        max(col("sim_micro")).as("max_sim_micro"))
    cells.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        col("kept_for").isNotNull.as("is_dup"),
        coalesce(col("kept_for"), lit(-1L)).as("kept_for"),
        coalesce(col("max_sim_micro"), lit(-1L)).as("max_sim_micro"))
  }

  /** The q165 driver entry: EXACT SUBSTRING duplication audit — the
    * span-level dedup of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"), which removes VERBATIM
    * repeated passages (boilerplate, licenses, templated spans) that
    * document-level dedup (q20) and near-dup dedup (q22) both miss:
    * two long documents sharing one 200-char license paragraph are
    * not near-dups, yet the paragraph trains badly. The paper's
    * single-node suffix array becomes, Spark-first, a rolling
    * fixed-length fingerprint pipeline:
    *
    *  1. every position emits xxhash64(substr(text, i, spanLen)) — an
    *     8-byte fingerprint per character, linear in corpus bytes;
    *  2. fingerprints repeated >= minCount times corpus-wide are the
    *     duplicated grams (one hash-keyed exchange with a count
    *     window over it — text never enters the exchange, the q100
    *     discipline, and no second scan or join-back);
    *  3. a doc's duplicated positions merge into maximal SPANS via
    *     the gaps-and-islands window (q123's device, exclusive ends
    *     so runs of overlapping grams coalesce into one span);
    *  4. per-doc audit: span count, duplicated chars, duplicated
    *     fraction (one IEEE division of two exact longs).
    *
    * Scale shape: the position fan-out is the honest cost — L-
    * independent, one row per corpus character, exactly the suffix-
    * array construction cost the paper pays single-node, here
    * embarrassingly parallel. Only DUPLICATED positions (tiny)
    * survive the count-window filter and reach the per-doc island
    * window. At 100 TB the digest-count pass shards
    * by hash range — the distributed analogue of the paper's
    * segmented suffix arrays — and a removal pass composes with
    * substr surgery on the span table exactly as q100 reassembles
    * de-boilerplated lines.
    *
    * Portability: the fingerprint stays internal (the oracle groups
    * the raw grams — identical semantics modulo 64-bit collisions);
    * substr is
    * 1-based char semantics in both engines (q96's envelope); all span
    * arithmetic is integer; dup_frac is a single division of exact
    * longs. The oracle replays the identical four stages.
    */
  def substringSpanDedup(
      spark: SparkSession, sfDir: String,
      spanLen: Int = 50, minCount: Int = 2): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .where(length(col("text")) >= spanLen)
    val pos = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - lit(spanLen) + 1))
          .as("i"))
      .select(col("doc_id"), col("i"),
        xxhash64(col("text").substr(col("i"), lit(spanLen))).as("h"))
    // ONE pass, ONE exchange: the per-gram multiplicity comes from a
    // count window over the hash shuffle itself, not a count
    // aggregate + join back (which costs a second full fingerprint
    // scan plus a broadcast) — measured 11.0 s -> single-pass at
    // sf0.1. The fingerprint is xxhash64 (8 bytes in the exchange,
    // ~5x cheaper to compute than md5): it never leaves the plan, so
    // cross-engine portability is not at stake — only collision odds
    // (~10^-6 at 10^7 grams; a 100 TB corpus upgrades to a 128-bit
    // fingerprint, same plan).
    val wh = Window.partitionBy(col("h"))
    val dupPos = pos
      .withColumn("cnt", count(lit(1)).over(wh))
      .where(col("cnt") >= minCount)
      .select(col("doc_id"), col("i"))
    val order = Window.partitionBy(col("doc_id")).orderBy(col("i").asc)
    val prevW = order.rowsBetween(Window.unboundedPreceding, -1)
    val cumW = order.rowsBetween(Window.unboundedPreceding, 0)
    val islands = dupPos
      .withColumn("e", col("i") + lit(spanLen))   // exclusive end
      .withColumn("prev_max_e", max(col("e")).over(prevW))
      .withColumn("brk",
        when(col("prev_max_e").isNull ||
          col("i") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(cumW))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("e")).as("e"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_frac",
        col("dup_chars").cast("double") / col("n_chars").cast("double"))
  }

  /** The q189 driver entry: EXACT ALL-PAIRS SIMILARITY JOIN with
    * PREFIX FILTERING (Bayardo et al. 2007 "Scaling Up All Pairs
    * Similarity Search" / PPJoin, Xiao et al. 2008) — every document
    * pair with 5-gram-shingle-set Jaccard ≥ 0.6, EXACTLY, with no
    * posting-list caps (q21's cap trades completeness for a cost
    * bound; this is the lossless alternative): under any fixed
    * global shingle order, two sets with J ≥ t must share an element
    * inside their first |d| − ⌈t·|d|⌉ + 1 — if the smallest common
    * element sat outside a's prefix, a would hold ≥ |a|−⌈t|a|⌉+1
    * elements b lacks, capping the intersection below t·|a| ≤
    * t·|a∪b|. So candidate generation indexes ONLY prefixes, ordered
    * rarest-first (ascending document frequency), making the
    * exchanged posting lists the shortest in the corpus — the
    * property that keeps the join subquadratic on real data. A
    * length filter (5·min ≥ 3·max, integer cross-multiply) prunes
    * before any element comparison. Sets are the q21/q22 5-gram
    * shingles, the similarity space where near-dup actually lives
    * (token SETS over this fixture's 31-token vocabulary are
    * degenerate — most doc pairs share most of the vocabulary).
    *
    * Determinism: the global order is the (df, shingle) total order;
    * the threshold gate is integer (5·∩ ≥ 3·∪ for t = 3/5, the q178
    * rule); jaccard renders with one IEEE division.
    *
    * Scale shape: the df table is shingle-domain-bounded; prefixes
    * shrink the candidate exchange to rare-shingle posting lists;
    * exact verification touches CANDIDATE pairs only (the q22
    * discipline). The one corpus-sized exchange is (shingle, doc) on
    * prefix shingles.
    */
  def prefixFilterJoin(spark: SparkSession, sfDir: String): DataFrame =
    prefixFilterJoinOn(Tables.load(spark, sfDir, "documents"))

  /** Exhaustive exact twin (no prefix filter) — the completeness
    * oracle; candidate generation via the full shingle index.
    */
  def exactSetJoinOn(docs: DataFrame): DataFrame = {
    val sets = docShingleSets(docs)
    val withN = sets.withColumn("n",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    verifyPairs(
      withN.as("a").join(withN.as("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .distinct(),
      sets)
  }

  def prefixFilterJoinOn(docs: DataFrame): DataFrame =
    prefixFilterJoinOnSets(docShingleSets(docs))

  /** q189's join over an ALREADY-BUILT distinct (doc_id, sh) frame —
    * split out so q332 can share ONE materialized shingle pass
    * between its truth and signature sides instead of re-scanning
    * and re-shingling the corpus text twice.
    */
  private def prefixFilterJoinOnSets(sets: DataFrame): DataFrame = {
    val df = sets.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val wN = Window.partitionBy(col("doc_id"))
    // prefix length |d| − ⌈3n/5⌉ + 1; ⌈3n/5⌉ = (3n+4) DIV 5
    val pref = sets.join(df, Seq("sh"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wRank))
      .where(col("rk") <=
        col("n") - ((col("n") * 3 + 4) / lit(5)).cast("long") + 1)
      .select(col("sh"), col("doc_id"), col("n"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
      // length filter: J ≥ 3/5 needs 5·min ≥ 3·max
      .where(lit(5L) * least(col("n_a"), col("n_b")) >=
        lit(3L) * greatest(col("n_a"), col("n_b")))
    verifyPairs(cand, sets)
  }

  /** The q196 driver entry: MINHASH-LSH PARAMETER PLANNER — the
    * S-curve table that decides q22's (bands, rows) BEFORE anyone
    * runs the pipeline: for banded MinHash, a pair with Jaccard t is
    * a candidate with probability p(t) = 1 − (1 − tʳ)ᵇ, so the
    * planner tabulates p at a high-similarity catch point (0.9), the
    * design threshold (0.6), and a false-positive probe (0.3) for
    * every (b, r) within a signature-size budget, and ranks by
    * catch − false-positive separation. This is how the q22/q45/q46
    * parameters are justified rather than guessed — the planning op
    * every dedup deployment runs first.
    *
    * Determinism device: b and r take power-of-two values only, so
    * every power is a REPEATED-SQUARING multiply chain (t², t⁴ =
    * t²·t², …) — pure IEEE multiplications with an identical tree on
    * both engines, NO pow() (libm pow is the transcendental the
    * q141 rule exists for; here it is simply avoided) and no floors:
    * the output doubles are bit-identical by construction.
    *
    * Scale shape: a 22-row literal grid — driver-side math; the
    * entry exists for its CONTRACT (the q22 parameter choice), not
    * its cost.
    */
  def lshPlanner(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = (for {
      b <- Seq(2, 4, 8, 16, 32)
      r <- Seq(1, 2, 4, 8, 16)
      if b * r <= 128
    } yield (b, r)).toDF("b", "r")
    def powChain(x: Column, e: Column): Column = {
      val x2 = x * x; val x4 = x2 * x2; val x8 = x4 * x4
      when(e === 1, x).when(e === 2, x2).when(e === 4, x4)
        .when(e === 8, x8).otherwise(x8 * x8)   // 16 and 32
    }
    def pCatch(t: Double): Column = {
      val tr = powChain(lit(t), col("r"))
      val q = lit(1.0) - tr
      val q2 = q * q; val q4 = q2 * q2; val q8 = q4 * q4; val q16 = q8 * q8
      lit(1.0) - (when(col("b") === 2, q2).when(col("b") === 4, q4)
        .when(col("b") === 8, q8).when(col("b") === 16, q16)
        .otherwise(q16 * q16))
    }
    val scored = grid
      .withColumn("k_bits", (col("b") * col("r")).cast("long"))
      .withColumn("p_catch_090", pCatch(0.9))
      .withColumn("p_design_060", pCatch(0.6))
      .withColumn("p_fp_030", pCatch(0.3))
      .withColumn("separation", pCatch(0.9) - pCatch(0.3))
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("separation").desc, col("b").asc, col("r").asc)))
      .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"),
        col("k_bits"), col("p_catch_090"), col("p_design_060"),
        col("p_fp_030"), col("separation"), col("rk"))
  }

  /** Distinct 5-gram word shingles per doc (the q21/q22 shingle
    * definition verbatim).
    */
  // Shingle emission is explode(sequence(positions)) + a TOP-LEVEL
  // slice/array_join, not transform(sequence, lambda): higher-order
  // functions are CodegenFallback (interpreted per element, and they
  // sever the whole-stage-codegen span), and the lambda form also
  // materializes the full per-row shingle-string array before the
  // explode. The position-explode form keeps the whole pipeline in
  // one codegen stage — the shingle string is built once per OUTPUT
  // row inside the generate loop, no intermediate array — and emits
  // the identical (doc_id, sh) multiset (DedupSpec pins equality
  // against the lambda form). Round-18 A/B at sf0.1: see
  // OPTIMIZATION_r18.md (shingle-family entries).
  private def docShingleSets(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      TextAnalysis.normWords(col("text")).as("w"))
    .where(size(col("w")) >= 5)
    .select(col("doc_id"), col("w"),
      explode(sequence(lit(1), size(col("w")) - 4)).as("i"))
    .select(col("doc_id"),
      array_join(slice(col("w"), col("i"), lit(5)), " ").as("sh"))
    .distinct()

  /** Exact verification of candidate pairs: count shared tokens,
    * integer threshold gate, one IEEE division for the rendered
    * jaccard. Touches candidates only.
    */
  private def verifyPairs(cand: DataFrame, sets: DataFrame): DataFrame = {
    val nCommon = cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .where(col("sh_a") === col("sh_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
    nCommon
      .where(lit(5L) * col("n_common") >=
        lit(3L) * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("n_a"), col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** The q220 driver entry: CONTRASTIVE PAIR MINING — turn the
    * near-dup graph into embedding-training data: every verified
    * near-dup pair (the q22 MinHash-LSH + exact-Jaccard path) becomes
    * an (anchor, positive) tuple, and each tuple draws `negs`
    * deterministic random negatives by hashing (pair, idx) to a
    * position in an md5-ranked corpus order — the in-batch-negatives
    * table a contrastive trainer (SimCSE/E5-style) consumes. Draws
    * that collide with the anchor or positive are dropped on both
    * engines (the rare-collision rule, stated rather than patched).
    *
    * ORACLE CAVEAT (q22's, carried per round-11 advice): the DuckDB
    * twin uses the EXHAUSTIVE all-pairs Jaccard truth, so equality
    * holds exactly when LSH banded recall at the threshold is
    * complete on the fixture — DedupSpec pins candidate recall ==
    * exhaustive pairs at fixture scale, so a banding-parameter or
    * fixture change that opens a recall gap fails the spec rather
    * than silently shifting both sides.
    *
    * Scale shape: the pair table is candidate-bounded (LSH, never
    * n²); the corpus ranking is a doc-grain window (q202's bucketed
    * device at 100 TB); the draw join broadcasts the small pair side
    * against the position column.
    */
  def contrastivePairs(
      spark: SparkSession, sfDir: String, negs: Int = 3): DataFrame = {
    val pairs = minhashLshPairsVerified(spark, sfDir)
      .select(col("id_a"), col("id_b"))
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val n = docs.count()
    // round-14: corpus-grain salted rank through the chunked device
    // (2-hex prefix buckets) instead of a partition-less window
    val rkSalt = md5(concat(lit("rk:"), col("doc_id").cast("string")))
    val ranked = Relational.chunkedRowNumber(docs,
      bucket = substring(rkSalt, 1, 2),
      order = Seq(rkSalt.asc, col("doc_id").asc), out = "pos")
    val drawn = pairs
      .select(col("id_a"), col("id_b"),
        explode(sequence(lit(1), lit(negs))).as("neg_idx"))
      .withColumn("h", conv(substring(md5(concat(
        lit("ng:"), col("id_a").cast("string"),
        lit(":"), col("id_b").cast("string"),
        lit(":"), col("neg_idx").cast("string"))), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("pos", (col("h") % lit(n)) + lit(1L))
    drawn.join(ranked, Seq("pos"))
      .where(col("doc_id") =!= col("id_a") &&
        col("doc_id") =!= col("id_b"))
      .select(col("id_a").as("anchor"), col("id_b").as("positive"),
        col("neg_idx").cast("long").as("neg_idx"),
        col("doc_id").as("negative"))
  }

  /** The q222 driver entry: QUALITY-SURVIVOR DEDUP — cluster
    * resolution with the survivor a production pipeline actually
    * keeps: within each near-dup cluster (q44's connected components
    * over verified MinHash pairs) the HIGHEST-QUALITY member wins
    * (micro-floored stopword ratio, doc_id breaking ties), not the
    * arbitrary min-id. Emits every clustered doc with its cluster
    * label, quality, and keep flag — the reviewable artifact before
    * the drop is applied.
    *
    * Scale shape: clusters come from the pair-bounded CC loop;
    * quality joins at doc grain; the survivor is one max(struct)
    * aggregate per cluster — no window over the corpus.
    *
    * ORACLE CAVEAT (q22's, carried per round-11 advice): the oracle
    * clusters the EXHAUSTIVE all-pairs truth; equality rests on LSH
    * banded recall being complete at the fixture scale, which
    * DedupSpec pins (candidate recall == exhaustive pairs).
    */
  def qualitySurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLshPairsVerified(spark, sfDir)
    val comps = connectedComponents(pairs)
    val q = TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"),
        floor(lit(1000000.0) * col("stopword_ratio")).cast("long")
          .as("q_micro"))
    val members = comps
      .join(q, comps("id") === q("doc_id"))
      .select(col("comp").as("cluster"), col("id"), col("q_micro"))
    val surv = members.groupBy(col("cluster"))
      .agg(max(struct(col("q_micro").as("q"), (-col("id")).as("nid")))
        .as("m"))
      .select(col("cluster"), (-col("m.nid")).as("survivor"))
    members.join(surv, Seq("cluster"))
      .select(col("id").as("doc_id"), col("cluster"), col("q_micro"),
        (col("id") === col("survivor")).as("keep"))
  }

  /** The q229 driver entry: NUMERAL-NORMALIZED DEDUP — the CCNet
    * refinement over exact dedup: boilerplate that differs only in
    * digit runs (timestamps, counters, view numbers) escapes the
    * exact fingerprint, so a second fingerprint hashes the normalized
    * text with every digit run collapsed to '0'. The entry reports
    * exactly the INCREMENTAL catch: docs that are unique under the
    * exact fingerprint but duplicated under the numeral-normalized
    * one, with both group sizes — the rows an operator reviews before
    * widening the dedup predicate.
    *
    * Scale shape: two fingerprint aggregates over 16-byte digests
    * (the q20 discipline), one digest-keyed join back; text never
    * shuffles.
    */
  def numeralNormalizedDedup(
      spark: SparkSession, sfDir: String): DataFrame = {
    val norm = TextAnalysis.normalizedText(col("text"))
    val fps = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(norm).as("fp_exact"),
        md5(regexp_replace(norm, "[0-9]+", "0")).as("fp_num"))
    val exactCounts = fps.groupBy(col("fp_exact"))
      .agg(count(lit(1)).as("n_exact"))
    val numCounts = fps.groupBy(col("fp_num"))
      .agg(count(lit(1)).as("n_num"))
    fps.join(exactCounts, Seq("fp_exact"))
      .join(numCounts, Seq("fp_num"))
      .where(col("n_exact") === 1 && col("n_num") > 1)
      .select(col("doc_id"), col("fp_num"),
        col("n_exact").cast("long").as("n_exact"),
        col("n_num").cast("long").as("n_num"))
  }

  /** The q266 driver entry: WITHIN-DOCUMENT SENTENCE DEDUP — the
    * in-doc counterpart of q100's corpus-wide line dedup (and the
    * REMOVAL step behind q74's repetition detection): repeated
    * sentences inside one document keep only their FIRST occurrence,
    * in order — the cleanup for boilerplate that repeats WITHIN a
    * page (cookie banners, nav text) where corpus-frequency signals
    * never fire. Sentences are '. '-splits of the normalized text;
    * first-occurrence selection is a (doc, sentence-digest) window
    * ordered by position; the cleaned document re-joins the kept
    * sentences in position order and travels as its md5 under the
    * hash compare. The fixture has no in-doc repeats, so every 6th
    * document is planted with its own first sentence re-appended
    * (q172 device, oracle-replayed).
    *
    * Scale shape: everything is doc-local — the sentence explode
    * shuffles (doc, digest)-keyed rows once for the window and once
    * for the ordered re-join, state bounded by document size (q100's
    * posture, minus the corpus-wide count).
    */
  def sentenceDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = normalizedText(col("text"))
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), norm.as("t"))
      .withColumn("t",
        when(col("doc_id") % 6 === 0 && length(col("t")) > 0,
          concat(col("t"), lit(". "),
            element_at(split(col("t"), "\\. "), 1)))
          .otherwise(col("t")))
    val sents = docs
      .select(col("doc_id"),
        posexplode(split(col("t"), "\\. ")).as(Seq("idx", "s")))
    val first = sents.withColumn("rk", row_number().over(
      Window.partitionBy(col("doc_id"), md5(col("s")))
        .orderBy(col("idx").asc)))
    val kept = first.where(col("rk") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("s")))),
          x => x.getField("s")), ". ")).as("clean_fp"))
    sents.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sents"))
      .join(kept, "doc_id")
      .select(col("doc_id"), col("n_sents"), col("n_kept"),
        (col("n_sents") - col("n_kept")).as("n_removed"),
        col("clean_fp"))
  }

  /** The q259 driver entry: CROSS-SOURCE DUPLICATION MATRIX — the
    * curation dashboard that tells you WHERE the duplication in a
    * multi-source corpus lives (crawl-vs-crawl? one source
    * re-packaging another?): for every source pair, the number of
    * exact-duplicate document pairs and of shared fingerprints.
    *
    * The scale trick: duplicate PAIRS are never enumerated. Per
    * (fingerprint, source) counts c reduce first (one digest-grain
    * shuffle — q20's discipline, text never moves), and pair counts
    * are ARITHMETIC on the counts: c_a·c_b across sources,
    * C(c,2) = c(c−1)/2 within one — so a pathological million-copy
    * template costs one row per source it appears in, not 10¹²
    * join rows. The per-fp source×source fan-out is bounded by
    * |sources|² (catalog-bounded, the q133 rationale).
    *
    * The fixtures carry no exact duplicates at sf0.01, so the entry
    * PLANTS the two scenarios the matrix exists to expose (the q172
    * device — the oracle replays the planting): a "mirror" source
    * re-packaging every 7th document, and every 13th document
    * re-ingested into its own source (within-source duplication) —
    * moduli coprime to the fixture's source cycle so the matrix
    * exercises every source, not one aligned column.
    */
  def crossSourceDupMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val planted = docs
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          lit("mirror").as("source"), col("text")))
      .unionByName(docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          col("source"), col("text")))
    val counts = planted
      .select(col("source"), md5(normalizedText(col("text"))).as("fp"))
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("c"))
    counts.as("a").join(counts.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.source") <= col("b.source"))
      .select(col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        when(col("a.source") === col("b.source"),
          expr("(a.c * (a.c - 1)) DIV 2"))
          .otherwise(col("a.c") * col("b.c")).cast("long").as("pairs"),
        when(col("a.source") === col("b.source"), col("a.c") >= 2)
          .otherwise(lit(true)).as("shared"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_shared_fps"))
      .where(col("n_dup_pairs") > 0)
  }

  /** The q332 driver entry: LSH BANDING QUALITY EVAL — the MEASURED
    * counterpart of q196's theoretical S-curve: q196 predicts banded
    * MinHash's catch probability from (bands, rows); this entry
    * measures what the banding actually delivers on the corpus, as
    * recall/precision against the LOSSLESS prefix-filter truth
    * ([[prefixFilterJoinOn]], the q189 AllPairs/PPJoin device) at the
    * same J >= 3/5 threshold over the same 5-gram shingle space —
    * the eval every dedup deployment runs before trusting its index
    * parameters, reported for BOTH pipeline stages: raw band
    * candidates and the est-filtered set (>= 60% matching slots, the
    * integer rule 10·matches >= 6·64).
    *
    * Hash family: ONE md5 per shingle, split into h1 (60 bits) and
    * h2 (56 bits), with slot_i = min over shingles of (h1 + i·h2) —
    * Kirsch–Mitzenmacher double hashing, chosen over q22's
    * production xxhash64 family precisely so the ENTIRE banding
    * (signatures, band keys, candidate set) replays exactly in the
    * oracle: this is the one entry whose point is measuring the
    * approximation itself, so the approximation must live INSIDE the
    * cross-engine hash compare, not beside it. Sums stay under 2^62
    * (60-bit h1 + 63·2^56), band keys are md5 of the ':'-joined slot
    * quadruple.
    *
    * Scale shape: signatures are ROW-LOCAL higher-order functions
    * (one md5 per distinct shingle, no explode of the slot axis);
    * banding exchanges (doc, band, 16-byte key) rows — O(n·bands);
    * candidates are quadratic only inside a band bucket (the q22
    * law); est verification touches candidates only; the truth side
    * is the prefix-filter join, subquadratic by the rarest-first
    * prefix argument. Every frame read twice+ is pinned (q291 rule).
    */
  /** q332's 64-slot Kirsch–Mitzenmacher signature frame, split out so
    * DedupSpec can plan-assert the one-md5-per-shingle shape.
    *
    * History: the first shape computed the per-shingle (h1, h2) pairs
    * and the 64-slot loop as two stacked higher-order-function
    * projections, and needed a localCheckpoint PIN between them —
    * CollapseProject counts an attribute referenced once inside a
    * lambda as one reference and inlined the md5 transform into the
    * slot loop, re-evaluating it 64× per row (measured 57 s vs 9.6 s
    * at sf0.1). This shape makes the blowup STRUCTURALLY impossible:
    * the 64 slots are plain min() aggregate expressions that each
    * reference h1/h2 — 64 static references to a non-cheap producer,
    * which CollapseProject refuses to inline by its own cost rule,
    * and the Aggregate is a barrier besides. md5 appears exactly
    * twice in the plan (h1's and h2's substring of the same call —
    * runtime-deduplicated by subexpression elimination), evaluated
    * once per (doc, shingle) row; the mins are map-side combined.
    * DedupSpec pins the exactly-2-Md5-nodes invariant.
    */
  def bandingSigs(docs: DataFrame): DataFrame =
    bandingSigsFromSets(docShingleSets(docs))

  private def bandingSigsFromSets(sets: DataFrame): DataFrame = {
    val hs = sets.select(col("doc_id"),
      expr("CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)")
        .as("h1"),
      expr("CAST(conv(substring(md5(sh), 17, 14), 16, 10) AS BIGINT)")
        .as("h2"))
    val mins = (0 until 64).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"s$i"))
    hs.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until 64).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** Round-19 codegen devices for the signature eval paths (q332 /
    * q397). Signatures are FIXED-WIDTH (64 non-null slots), so the
    * interpreted `size(filter(zip_with(...)))` slot-match counts
    * rewrite to 64-term whole-stage-codegen sums, and the per-band
    * key build rewrites to position-explode + concat_ws (the
    * docShingleSets rule) — byte-identical band hashes: slice(sig,
    * 4b+1, 4) elements ARE element_at(sig, 4b+j) j=1..4, CAST AS
    * STRING is the same cast, and array_join and concat_ws render
    * non-null string arrays identically.
    */
  private def slotMatches(a: Column, b: Column)(
      eq: (Column, Column) => Column): Column =
    (1 to 64).map(i =>
      when(eq(element_at(a, i), element_at(b, i)), lit(1L))
        .otherwise(lit(0L))).reduce(_ + _)

  /** Every doc pair (id_a < id_b) whose 64-slot signatures agree on
    * one of the 16 bands of 4 (band keys md5'd): the banded candidates
    * of q332 and q397, the Spark twin of the oracle's `bandCandCtes`
    * `bands`/`cand` tail.
    */
  private def bandCandidates(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(15))).as("band"))
      .select(col("doc_id"), col("band"),
        md5(concat_ws(":", (1 to 4).map(j =>
          element_at(col("sig"), col("band") * 4 + j).cast("string")): _*))
          .as("bh"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  def lshBandingEval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // ONE shingle pass feeds both the truth and the signature sides
    // (each used to re-scan and re-shingle the text independently —
    // the two stages were ~70% of the entry's 10 s)
    val sets = docShingleSets(docs).localCheckpoint(true)
    val truth = prefixFilterJoinOnSets(sets)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // read by both hit joins
    val sigs = bandingSigsFromSets(sets)
      .localCheckpoint(true) // read by bands + twice by the est join
    val cand = bandCandidates(sigs)
    // ONE flags pass over the candidate pairs (round-19, guide §2.4):
    // the per-pair signature estimate and the truth membership become
    // two columns of a single frame, and one aggregate produces
    // n_band/n_est/hit_band/hit_est — replacing two pinned
    // intermediates (cand, est — each an eager materialization job),
    // two hit joins, and three of the five count branches. Identical
    // numbers: est was a subset of cand, so count(est) =
    // count(in_est), |truth ∩ cand| = count(truth-matched),
    // |truth ∩ est| = count(truth-matched AND in_est).
    val flags = cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .withColumn("in_est",
        lit(10) * slotMatches(col("sig_a"), col("sig_b"))(_ === _) >=
          lit(6 * 64))
      .join(truth.select(col("id_a"), col("id_b"), lit(1L).as("tr")),
        Seq("id_a", "id_b"), "left")
    val bandAgg = flags.agg(
      count(lit(1)).cast("long").as("n_band"),
      coalesce(sum(when(col("in_est"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_est"),
      coalesce(sum(when(col("tr").isNotNull, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("hit_band"),
      coalesce(sum(when(col("tr").isNotNull && col("in_est"), 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("hit_est"))
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).cast("long").as(name))
    cnt(truth, "n_truth")
      .crossJoin(broadcast(bandAgg))
      .select(col("n_truth"), col("n_band"), col("n_est"),
        col("hit_band"), col("hit_est"),
        expr("CASE WHEN n_truth > 0 THEN hit_band * 1000000 DIV n_truth END")
          .as("recall_band_ppm"),
        expr("CASE WHEN n_truth > 0 THEN hit_est * 1000000 DIV n_truth END")
          .as("recall_est_ppm"),
        expr("CASE WHEN n_band > 0 THEN hit_band * 1000000 DIV n_band END")
          .as("precision_band_ppm"),
        expr("CASE WHEN n_est > 0 THEN hit_est * 1000000 DIV n_est END")
          .as("precision_est_ppm"))
  }

  /** q397 default bit grid — named so the oracle generator and the
    * Spark default cannot silently diverge.
    */
  val bbitGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /** The q397 driver entry: B-BIT MINWISE HASHING EVAL (Li & König
    * 2010) — the storage-side ablation of the MinHash index: keeping
    * only the lowest b bits of each signature slot shrinks the
    * signature store 64/b× (the difference between an index that
    * fits in memory and one that doesn't at 100 TB), at the cost of
    * chance collisions that the estimator corrects for exactly:
    * a slot matches by chance with probability 2⁻ᵇ, so
    * Ĵ_b = (m_b·2ᵇ − S)/(S·(2ᵇ − 1)) over S slots with m_b b-bit
    * matches — all exact integers in micro (estimates below chance
    * clamp to 0, stated convention). Per b ∈ [[bbitGrid]]: mean
    * absolute error of Ĵ_b vs the EXACT verified Jaccard over the
    * banded candidate pairs, beside the full-slot estimator's MAE
    * (m/S) and the per-signature byte cost — the table that picks b
    * (q332 evals the BANDING's recall; this evals the stored
    * signature's width).
    *
    * Hash family: q332's md5 Kirsch–Mitzenmacher double hashing
    * (one md5 per shingle), chosen so signatures, band keys, slot
    * matches, and the estimator replay EXACTLY in the oracle — the
    * approximation under eval lives inside the cross-engine compare.
    *
    * Scale shape: one shingle pass feeds sets → signatures → bands
    * (the q332 economics); candidates are banded (never n²); exact
    * verification and the |grid| estimator arms touch candidate
    * pairs only, one projection each over one joined pair frame.
    */
  def bbitMinwiseEval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val sets = docShingleSets(docs).localCheckpoint(true)
    val sigs = bandingSigsFromSets(sets)
      .localCheckpoint(true) // read by bands + twice by the pair join
    val cand = bandCandidates(sigs)
      .localCheckpoint(true) // read by the truth join + the sig join
    // exact Jaccard on candidates only (the q22 verify discipline)
    val sizes = sets.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n"))
    val truth = cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .where(col("sh_a") === col("sh_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")),
        Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("n_common * 1000000 DIV (n_a + n_b - n_common)")
          .as("j_micro"))
    val paired = cand
      .join(truth, Seq("id_a", "id_b"), "left")
      .withColumn("j_micro", coalesce(col("j_micro"), lit(0L)))
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .withColumn("m_full",
        slotMatches(col("sig_a"), col("sig_b"))(_ === _))
      .localCheckpoint(true) // read once per grid arm
    bbitGrid.map { b =>
      val pow = 1L << b
      paired
        .withColumn("m_b",
          slotMatches(col("sig_a"), col("sig_b"))(
            (x, y) => x % lit(pow) === y % lit(pow)))
        .withColumn("est_b", expr(
          s"GREATEST(0L, (m_b * $pow - 64) * 1000000 DIV (64 * ${pow - 1}))"))
        .withColumn("est_full", expr("m_full * 1000000 DIV 64"))
        .groupBy()
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          expr("CAST(SUM(ABS(est_b - j_micro)) DIV COUNT(*) AS BIGINT)")
            .as("mae_b_micro"),
          expr("CAST(SUM(ABS(est_full - j_micro)) DIV COUNT(*) AS BIGINT)")
            .as("mae_full_micro"))
        .select(lit(b.toLong).as("bits_per_slot"),
          lit(64L * b / 8L).as("sig_bytes"),
          col("n_pairs"), col("mae_b_micro"), col("mae_full_micro"))
    }.reduce(_ unionByName _)
  }

  /** The q341 driver entry: CROSS-DOCUMENT DUPLICATED-SPAN FRACTION —
    * the per-document statistic behind exact-substring dedup (Lee
    * 2021, "Deduplicating Training Data Makes Language Models
    * Better"): what fraction of a document's 5-word shingles also
    * occur in at least one OTHER document. Unlike the pairwise
    * families (q21 Jaccard, q22 MinHash), this is a per-DOC number
    * from a global shingle census — the column a span-level dedup
    * pass thresholds on, and the corpus health metric ("X% of tokens
    * are duplicated text") reported in every dataset datasheet.
    *
    * A shingle counts as duplicated iff its census spans ≥ 2 DISTINCT
    * docs — shingles are per-doc distinct first, so the census count
    * IS the doc count and intra-doc repetition (q74's axis) never
    * inflates it. Docs under 5 words carry no shingles and are
    * absent (documented; the spec reconciles the count).
    *
    * Scale shape: NO pairs anywhere — the explode is fact-scale but
    * shingles travel as 16-byte md5 digests (never text), the census
    * is one digest-keyed map-side-combined count, and the verdict
    * join is digest-keyed back to the doc grain: two linear
    * exchanges, O(corpus) regardless of duplication structure —
    * exactly why span-census dedup is the 100 TB workhorse while
    * pairwise verification is reserved for banded candidates.
    */
  def dupSpanFraction(spark: SparkSession, sfDir: String): DataFrame = {
    // the single-pass 64-bit shingle hasher (no string building, no
    // md5): the output carries only per-doc COUNTS, so any injective-
    // on-the-corpus hash yields the identical table — the same
    // no-collision caveat the q21 inverted index rides under its
    // string-truth oracle. The dedup exchange carries (long, long).
    val sh = shingleHashes(Tables.load(spark, sfDir, "documents"), 5)
      .distinct()
    val census = sh.groupBy(col("sh"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    sh.join(census, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("n_docs") >= 2L, 1L).otherwise(0L)).cast("long")
          .as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_shingles"))
  }

  /** The q350 driver entry: INCREMENTAL SPAN-CENSUS DEDUP — q341's
    * daily-ingest form, the q46 persisted-artifact discipline applied
    * to the span census: "yesterday" materializes the HISTORY span
    * census (16-byte digest → doc count) as a parquet artifact;
    * "today" shingles ONLY the new batch (doc_id % `newBatchModulus` = 0,
    * the q46 split) and joins it against the read-back artifact —
    * history TEXT is never re-read, which is the entire economics of
    * a daily pass over a 100 TB corpus (the census artifact is ~16
    * bytes per distinct span; the corpus is not). Per new doc:
    * spans already in history (`n_hist_dup`), spans new to history
    * but duplicated WITHIN today's batch (`n_batch_dup` — the two
    * deduplication axes a real ingest must separate, because only
    * the first can be decided against yesterday's artifact), and the
    * combined `dup_ppm`.
    *
    * The oracle recomputes both censuses from the raw corpus — hash
    * equality proves the artifact round-trip loses nothing. The spec
    * additionally plan-asserts the single documents scan on the
    * today side.
    *
    * Scale shape: pair-free like q341 — digest exchanges only; the
    * history census build is the once-per-day cost, the incremental
    * side scans only the batch and joins two digest-keyed frames.
    */
  def dupSpanIncremental(
      spark: SparkSession, sfDir: String,
      censusPath: Option[String] = None): DataFrame =
    censusPath match {
      case Some(path) => dupSpanVerdict(spark, sfDir, path).localCheckpoint(true)
      case None => Scratch.withScratch(spark, "q350_census", sfDir)(
        dupSpanVerdict(spark, sfDir, _))
    }

  private def dupSpanVerdict(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // the q341 single-pass 64-bit hasher on both sides — the
    // artifact stores (hash, count), ~16 B/span either way
    def digested(side: DataFrame) = shingleHashes(side, 5).distinct()
    // 1. "yesterday": persist the history span census
    digested(docs.filter(col("doc_id") % newBatchModulus =!= 0))
      .groupBy(col("sh"))
      .agg(count(lit(1)).cast("long").as("n_hist"))
      .write.mode("overwrite").parquet(path)
    // 2. "today": census read back; only the new batch is shingled
    val census = Tables.parquet(spark, path)
    val newSh = digested(docs.filter(col("doc_id") % newBatchModulus === 0))
      .localCheckpoint(true) // feeds the batch census AND the verdict
    val batchCensus = newSh.groupBy(col("sh"))
      .agg(count(lit(1)).cast("long").as("n_batch"))
    newSh.join(census, Seq("sh"), "left")
      .join(batchCensus, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("n_hist").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_hist_dup"),
        sum(when(col("n_hist").isNull && col("n_batch") >= 2L, 1L)
          .otherwise(0L)).cast("long").as("n_batch_dup"))
      .withColumn("dup_ppm",
        expr("(n_hist_dup + n_batch_dup) * 1000000 DIV n_shingles"))
  }

  /** The q351 driver entry: CLUSTER CANONICALIZATION — the selection
    * policy layer over q44's near-dup components: instead of q44's
    * keep-min-id, keep the LONGEST member (max n_chars, ties to the
    * smaller id) — the policy real pipelines prefer because the
    * longest variant is the least-truncated crawl of the same page,
    * and min-id is an accident of crawl order. Doc-grain output
    * (cluster, size, canonical, kept flag) — the joinable artifact
    * form (q297's lesson: a rebuild is a policy decision, a column
    * is reusable).
    *
    * Components come from the production MinHash-LSH + exact-verify
    * path; the oracle recomputes them from the exhaustive Jaccard
    * truth (the q44/q297 recursive-CTE precedent), so equality rides
    * the same pinned complete-banded-recall precondition. The
    * canonical pick avoids struct-argmax in the oracle (q321's
    * DuckDB lesson): a rank window over the bounded per-cluster
    * membership takes rn = 1.
    *
    * Scale shape: q22's candidate path + CC on the (few) near-dup
    * pairs + one cluster-keyed argmin aggregate + one cluster-keyed
    * join-back; singletons never enter the CC loop (coalesce to
    * their own id).
    */
  def canonicalizeClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLshPairsVerified(spark, sfDir)
    val comps = connectedComponents(pairs)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val member = docs
      .join(comps.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      .drop("comp")
    val canon = member.groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("cluster_size"),
        min(struct((-col("n_chars")).as("neg"), col("doc_id").as("id")))
          .getField("id").cast("long").as("canonical_id"))
    member.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("kept"))
  }
}
