package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Training-set preparation operators — the last mile of a
  * training-data pipeline after cleaning/dedup: deterministic
  * train/val/test assignment, quality binning for curriculum
  * selection, and token-budget shard packing.
  *
  * All three are oracle-exact: split hashes are md5-derived (the
  * q23/q31 portability device), bins are single-op double math, and
  * packing is integer window arithmetic.
  */
object TrainingPrep {

  /** 8/1/1 train/val/test weights out of [[splitBuckets]]. */
  val splitBuckets = 10
  val trainBuckets = 8

  /** THE content-addressing device, in one place: first 15 hex chars
    * of md5(salt ++ id) as a 60-bit int, mod `buckets`. Must stay
    * byte-identical to the DuckDB oracle rendering
    * `('0x' || substr(md5(<salt ||> CAST(id AS VARCHAR)), 1, 15))::BIGINT % n`
    * — q68/q84 (and the spec's replay) all call this instead of
    * hand-copying the expression.
    */
  def hashBucket(id: org.apache.spark.sql.Column, salt: String,
      buckets: Int): org.apache.spark.sql.Column = {
    val keyed = if (salt.isEmpty) id.cast("string")
      else concat(lit(salt), id.cast("string"))
    pmod(conv(substring(md5(keyed), 1, 15), 16, 10).cast("long"), lit(buckets))
  }

  /** The q68 driver entry: CONTENT-ADDRESSED train/val/test split —
    * bucket = md5(doc_id) mod 10, split = 8/1/1. Hash-addressed
    * assignment is the production rule because it is stable under
    * growth: adding documents tomorrow never reassigns today's docs
    * (a row-number split would), so eval sets stay frozen across
    * ingests. Embarrassingly parallel — no shuffle at all; the md5
    * prefix is the same 60-bit construction DuckDB replays exactly.
    */
  /** q68's bucket→split rule as a COLUMN — one definition shared by
    * splitAssign and the q76 single-scan manifest.
    */
  private[graft] def splitOfBucket(bucket: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(bucket < trainBuckets, "train")
      .when(bucket === trainBuckets, "val")
      .otherwise("test")

  def splitAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        hashBucket(col("doc_id"), "", splitBuckets).as("bucket"))
      .withColumn("split", splitOfBucket(col("bucket")))

  /** The q162 driver entry: LEAKAGE-FREE train/val/test split — the
    * q68 content-addressed rule lifted from documents to NEAR-DUP
    * CLUSTERS, closing the eval-contamination hole a per-doc split
    * leaves open: when two near-duplicates land in train and test, a
    * model is scored on paraphrases of its own training data (the
    * reason training pipelines split AFTER dedup clustering, not
    * before). Every document is keyed by its cluster representative
    * (the connected-component min id over the LSH-verified near-dup
    * pair graph — q44's machinery verbatim; a doc with no near-dup
    * is its own representative) and the q68 hash-bucket rule runs on
    * THAT key, so an entire cluster moves to one split atomically.
    * Two properties fall out, both spec-pinned: clusters never
    * straddle splits, and docs without near-dups keep exactly their
    * q68 assignment (the upgrade is a no-op where there is no
    * leakage to prevent).
    *
    * Scale shape: the pair graph + CC cost is the q44 path (banded
    * candidates, edge-set iterations); the split itself adds one
    * broadcast-scale left join (comp labels exist only for docs IN
    * pairs — near-dup clusters are tiny relative to the corpus) and
    * a per-row hash. At 100 TB the comp frame is the persisted
    * output of the dedup stage, making this a pure map-side join.
    */
  def leakageFreeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairsVerified(spark, sfDir)
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .join(broadcast(comps), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
      .withColumn("bucket", hashBucket(col("comp"), "", splitBuckets))
      .withColumn("split",
        when(col("bucket") < trainBuckets, "train")
          .when(col("bucket") === trainBuckets, "val")
          .otherwise("test"))
  }

  /** The q84 driver entry: CONTENT-ADDRESSED stratified sampling —
    * per-language keep rates (downweight the overrepresented stratum,
    * the standard language-rebalancing move in corpus assembly) via
    * md5 percent-bucket: keep a doc iff its bucket < rate(lang).
    * Hash-addressed for the same reason as q68: re-running on a grown
    * corpus never flips yesterday's keep/drop decisions, and the
    * sample needs no count/sort/shuffle — a per-row expression that
    * composes with any downstream operator. The hash is salted
    * ("samp:" prefix) so sampling stays INDEPENDENT of the q68 split
    * assignment — unsalted, bucket<25 would correlate with
    * split=train and bias every stratum. Rates here: majority 'en'
    * kept at 25%, every other language at 75%.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = hashBucket(col("doc_id"), "samp:", 100)
    val rate = Map("en" -> 25).foldLeft(lit(75)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), bucket.as("samp_bucket"))
      .filter(col("samp_bucket") < rate)
  }

  /** The q139 driver entry: TEMPERATURE-flattened mixture resampling —
    * the corpus-assembly move behind multilingual pretraining sets
    * (mT5/XLM-R style): sample languages proportional to massᵅ with
    * α = 0.5, so low-resource languages are upweighted relative to
    * their raw share without majority languages drowning them. α is
    * FIXED at 1/2 because sqrt is IEEE-754 correctly rounded in
    * every engine — pow(x, α) for general α is not, and the oracle
    * compare is exact.
    *
    * Exact-arithmetic ladder: per-language char mass and doc counts
    * are exact BIGINTs; weight = floor(sqrt(mass)·10⁶) re-enters
    * integer land (sqrt + one multiply + floor, all deterministic);
    * the weight total is an integer sum; every remaining step —
    * share = w/W, expected = (T·0.5)·share, rate = expected/d — is a
    * single IEEE op in a pinned tree shape, so `keep_rate` is
    * bit-identical between engines. The keep decision draws
    * u ∈ [0,1) from the salted-md5 60-bit device ("mix:" salt keeps
    * it independent of the q68 split and q84 sample): int64→double
    * rounds identically and dividing by 2⁶⁰ is exact power-of-two
    * scaling, so u < rate flips nowhere.
    *
    * Scale shape: one map-side-combined aggregate over (lang) — a
    * handful of rows — broadcast back as rates; the keep filter is
    * per-row, zero fact shuffle. Content-addressed like q84:
    * tomorrow's ingest changes rates only via the aggregate, never
    * by reshuffling today's draws.
    */
  def mixtureResample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val perLang = docs.groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("mass"), count(lit(1)).as("d"))
      .withColumn("w",
        floor(sqrt(col("mass").cast("double")) * lit(1000000.0))
          .cast("long"))
    val tot = perLang.agg(sum(col("w")).as("tw"), sum(col("d")).as("td"))
    val rates = perLang.crossJoin(broadcast(tot))
      .withColumn("share",
        col("w").cast("double") / col("tw").cast("double"))
      .withColumn("keep_rate",
        least(lit(1.0).cast("double"),
          (col("td").cast("double") * lit(0.5)) * col("share") /
            col("d").cast("double")))
      .select(col("lang"), col("keep_rate"))
    val u = conv(substring(md5(concat(lit("mix:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1.152921504606846976e18)
    docs.join(broadcast(rates), "lang")
      .where(u < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("keep_rate"))
  }

  private val featureBuckets = 1024

  /** The q144 driver entry: FEATURE HASHING (the "hashing trick",
    * sklearn HashingVectorizer / Vowpal Wabbit shape) — tokens map
    * to a FIXED 2¹⁰-bucket feature space through a hash instead of a
    * learned vocabulary, so the featurizer needs no fitted state, no
    * vocabulary broadcast, and tomorrow's unseen tokens land in the
    * same space (the property that makes it the standard wide-
    * feature encoder for streaming/online training). Each token
    * contributes ±1 by a SECOND hash bit (signed hashing), making
    * collisions cancel in expectation instead of biasing counts
    * upward; zero-sum buckets are dropped (sparse output).
    *
    * Both hashes come from one salted-free md5 60-bit draw — bucket
    * = h mod 1024, sign = bit 10 — exact integer arithmetic the
    * oracle replays. Scale shape: tokenize + hash are per-row
    * codegen'd expressions; the ONLY exchange is the
    * (doc, bucket)-keyed sum, map-side combined to ≤1024 rows per
    * doc-partition — no vocabulary state anywhere at any corpus
    * size.
    */
  def hashedFeatures(spark: SparkSession, sfDir: String): DataFrame =
    hashedFeaturesOn(Tables.load(spark, sfDir, "documents"))

  /** The featurizer over any `(doc_id, text)` frame — stateless by
    * construction (no fitted vocabulary), which is exactly why the
    * streamed serve (q179) can call it per micro-batch.
    */
  def hashedFeaturesOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.normWords(col("text")))
          .as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .groupBy(col("doc_id"), pmod(col("h"), lit(featureBuckets)).as("bucket"))
      .agg(sum(when(expr(s"(h div $featureBuckets) % 2") === 0, 1L)
        .otherwise(-1L)).as("feat"))
      .where(col("feat") =!= 0)

  /** Micro-int weight for one model key: md5-derived uniform in
    * [-0.5, 0.5) floored to integer MICRO-units (the q31 hash-float
    * device + the q141 fixed-point device) — a trained model swaps
    * the hash for real parameters, the integer-dot plumbing stays.
    */
  private def weightMicro(key: Column): Column =
    floor(lit(1000000.0) *
      (conv(substring(md5(key), 1, 15), 16, 10).cast("long")
        .cast("double") / lit(1.152921504606846976e18) - lit(0.5)))
      .cast("long")

  /** The q178 driver entry: BATCH MODEL INFERENCE — the shape every
    * learned quality filter / relevance scorer runs at corpus scale:
    * a linear model over q144's hashed features, scored as one
    * broadcast join + one exact integer dot product + one sigmoid.
    * The weights here are md5-derived placeholders (deterministic, so
    * the oracle replays them); a trained model's parquet of
    * (bucket, weight) drops into the same plan unchanged.
    *
    * Exactness device: weights quantize to integer MICRO-units, so
    * each doc's logit is an order-independent BIGINT sum of
    * feat x weight products — bit-stable under any partitioning —
    * and only then does ONE identical-tree double chain
    * (z = z_micro/1e6; score = 1/(1+exp(-z))) produce the
    * probability. The keep flag compares the INTEGER logit to zero
    * (sigmoid(z) >= 0.5 <=> z >= 0), so the decision never touches a
    * float. Docs with no surviving feature score on the bias alone
    * (left join from the documents universe).
    *
    * Scale shape: features are the q144 map-side-combined aggregate;
    * the 1024-row weight table broadcasts; the per-doc logit sum is
    * map-side combined. Inference is one pass, no corpus-keyed
    * shuffle beyond the feature aggregate itself.
    */
  def scoreDocs(spark: SparkSession, sfDir: String): DataFrame =
    scoreWith(
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")),
      placeholderWeights(spark), weightMicro(lit("w_bias")))

  /** The md5-derived placeholder model: (bucket, wq) micro-int rows.
    * A trained model's parquet replaces this frame unchanged.
    */
  def placeholderWeights(spark: SparkSession): DataFrame =
    spark.range(featureBuckets)
      .select(col("id").as("bucket"),
        weightMicro(concat(lit("w_"), col("id").cast("string"))).as("wq"))

  /** The externalized model artifact frame: the weight rows plus a
    * bucket = -1 bias row — the one parquet a deployment persists
    * and the streamed serve (q179) reads back per micro-batch.
    */
  def placeholderModel(spark: SparkSession): DataFrame =
    placeholderWeights(spark)
      .unionByName(spark.range(1).select(lit(-1L).as("bucket"),
        weightMicro(lit("w_bias")).as("wq")))

  /** Score any `(doc_id, text)` frame with a given weight table and
    * bias — the serving core shared by the one-shot q178 and the
    * streamed q179 (stateless: per-doc rows depend only on the doc
    * and the static model, so micro-batching cannot change them).
    */
  def scoreWith(
      docs: DataFrame, weights: DataFrame, biasQ: Column): DataFrame = {
    val logits = hashedFeaturesOn(docs)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("feat") * col("wq")).as("dot_micro"))
    val z = docs.select(col("doc_id"))
      .join(logits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        (coalesce(col("dot_micro"), lit(0L)) + biasQ).as("z_micro"))
    // score floors to micro-units (the q141 device): exp is a libm
    // call that differs in the last ulp across engines — the raw
    // double hash-diverged (…96 vs …94 at sf0.01), the floor does not
    z.select(col("doc_id"), col("n_active"), col("z_micro"),
      floor(lit(1000000.0) / (lit(1.0) +
        exp(-(col("z_micro").cast("double") / lit(1000000.0)))))
        .cast("long").as("score_micro"),
      (col("z_micro") >= 0L).as("keep"))
  }

  /** The q69 driver entry: VALUE-BASED quality binning for curriculum
    * selection — punctuation-ratio decile by fixed bin width
    * (floor(ratio·10)), not by global rank: a rank (ntile) over the
    * whole corpus needs a global sort, value bins are a per-row
    * expression that scales embarrassingly. Ratio and floor are
    * single-op double math, bit-portable to the oracle.
    */
  def qualityBins(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"),
        floor(col("punct_ratio") * 10).cast("int").as("punct_bin"),
        floor(col("stopword_ratio") * 10).cast("int").as("stopword_bin"))

  /** The q71 driver entry: INT8 embedding quantization audit — the
    * storage-compression step (4x over float32, 8x over double) every
    * embedding corpus goes through before training/serving. Per
    * vector: symmetric scale = max|x|/127, quantize with explicit
    * round-half-up (floor(x/scale + 0.5) — `round`'s half-up vs
    * half-even varies by engine, floor does not), and the max
    * reconstruction error, which mathematically cannot exceed
    * scale/2 — `quant_ok` asserts exactly that and the oracle replays
    * every step bit-identically (abs/div/floor/mul/sub are single
    * IEEE ops). Embarrassingly parallel, zero shuffle.
    */
  def quantizeEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vectors.l2normalize(col("embedding")).as("u"))
      .withColumn("scale",
        array_max(transform(col("u"), x => abs(x))) / lit(127.0))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0, lit(0.0)).otherwise(
          array_max(transform(col("u"), x =>
            abs(x - floor(x / col("scale") + lit(0.5)) * col("scale")))))
          .as("max_err"))
      .withColumn("quant_ok", col("max_err") <= col("scale") * lit(0.5))

  /** The q101 driver entry: per-class mean-pooled embeddings (label
    * centroids) — the reduction behind k-NN classifiers, class
    * prototypes for curriculum/dataset selection, and IVF codebook
    * refinement. Output is one row per (label, dim) with the exact
    * scaled-integer sum, the member count, and the mean.
    *
    * Exactness device: float sums are order-dependent (IEEE addition
    * doesn't associate), so a naive avg() could hash-diverge from any
    * oracle run with a different reduction tree. Each element is
    * instead mapped to `floor(x * 10^6)` — float widens to double
    * exactly, one multiply and one floor are single deterministic
    * IEEE ops — and the LONG sums are order-independent. The mean is
    * derived from (exact sum, exact count) in one double division, so
    * it too is bit-stable. ~20 bits of fraction is plenty for
    * unit-scale embedding coordinates; raise the scale for wider
    * dynamic ranges.
    *
    * Scale shape: posexplode fans each vector into d skinny rows, but
    * hash aggregation combines them map-side, so the exchange carries
    * at most partitions x labels x dims partial rows — independent of
    * corpus size. Nothing else shuffles.
    */
  def meanPoolEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(
        sum(floor(col("e").cast("double") * lit(1000000.0))).as("sum_e6"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"), col("sum_e6"), col("n"),
        (col("sum_e6").cast("double") /
          (col("n").cast("double") * lit(1000000.0))).as("mean_val"))

  /** The q91 driver entry: fixed-length training-sequence blocking —
    * each document's token stream cut into `seqLen`-token windows
    * (the batch-shape step between corpus and training loop: models
    * consume fixed-length sequences, documents aren't). Emits one row
    * per (doc, block) with its token range; the trailing partial
    * block keeps its true length (pad-vs-drop is the trainer's call —
    * both need `n_tok`). Per-row arithmetic + a bounded explode
    * (fan-out = ceil(tokens/seqLen), linear in corpus tokens), zero
    * shuffle, streams at any scale. Blocks stay within document
    * boundaries — cross-document packing is q70's shard layer.
    */
  /** Deterministic weighted sample (q118): top-k per language by
    * Efraimidis–Spirakis priority u^(1/w) — the standard one-pass
    * weighted sampling rule (elements win proportionally to weight),
    * here with w = n_chars so sampling is TOKEN-mass-weighted, the
    * way corpus subsets are actually drawn. Fully deterministic and
    * re-runnable: u derives from the salted md5 60-bit device (q68),
    * so tomorrow's ingest never reshuffles today's sample. Ranking
    * uses ln(u)/w (same order as u^(1/w), ln is monotone); the float
    * priority is compared as floor(×1e6), rank ties broken by doc_id.
    * Scale: the rk ≤ k filter on the window triggers Spark's
    * InferWindowGroupLimit, so each partition ships at most k rows
    * per language (the q89-measured bound) — not the corpus; the
    * k-bounded TopK Aggregator (q89) is the drop-in for extreme
    * stratum skew.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(
      md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val u = (h.cast("double") + 1.0) / lit(1152921504606846976.0) // 2^60
    val pr = log(u) / col("n_chars").cast("long")
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("pr").desc, col("doc_id").asc)
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("w"), pr.as("pr"))
      .withColumn("rk", row_number().over(byLang).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("doc_id"), col("w"),
        floor(col("pr") * 1e6).cast("long").as("pr_micro"), col("rk"))
  }

  /** Per-entity OLS trend (q116): closed-form least-squares slope of
    * spend over time per user — the per-key regression feature
    * (trend, drift, burn rate) every feature store derives. One
    * groupBy computes the five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²) as PURE INTEGERS — days since epoch for x,
    * DECIMAL(18,2)-rounded cents for y — so partial aggregation is
    * exact in any merge order (float sums would be
    * partitioning-dependent and break the oracle), and the slope is
    * ONE IEEE division of two exactly-computed BIGINTs: bit-portable.
    * Zero joins, zero windows, map-side combine does most of the
    * work; groups with < 2 distinct days have no defined slope and
    * are filtered in both engines.
    */
  def trendPerUser(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("x"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long").as("yc"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("yc")).as("syc"),
        sum(col("x") * col("yc")).as("sxyc"),
        sum(col("x") * col("x")).as("sxx"),
        countDistinct(col("x")).as("n_days"))
      .filter(col("n_days") >= 2)
      .select(col("user_id"), col("n"), col("sx"), col("syc"),
        col("sxyc"), col("sxx"),
        ((col("n") * col("sxyc") - col("sx") * col("syc")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_cents_per_day"))

  def sequenceBlocks(
      spark: SparkSession, sfDir: String, seqLen: Long = 32L): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L),
          expr(s"(n_tokens + ${seqLen - 1}) div $seqLen") - 1)).as("seq_idx"))
      .select(
        col("doc_id"), col("seq_idx"),
        (col("seq_idx") * seqLen).as("tok_start"),
        least(lit(seqLen), col("n_tokens") - col("seq_idx") * seqLen)
          .as("n_tok"))

  /** Token budget per training shard for [[shardPack]]. */
  val shardTokenBudget = 10000L

  /** The q70 driver entry: PER-LANGUAGE token-budget shard packing —
    * docs stream into shards of ~budget tokens in doc_id order; a doc
    * opens in the shard its preceding cumulative token count falls in
    * (shard = floor(tokens_before / budget)). Partitioned by language:
    * packing is inherently sequential WITHIN a shard family, so the
    * window runs per language partition (parallel across languages),
    * never as one global sort — the per-key-sequential pattern that
    * scales. All integer window arithmetic, oracle-exact.
    */
  def shardPack(
      spark: SparkSession, sfDir: String,
      budget: Long = shardTokenBudget): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val langs = TextAnalysis.langId(spark, sfDir)
      .select(col("doc_id"), col("lang_pred"))
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy(col("lang_pred")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    langs.join(toks, "doc_id")
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        floor(col("tokens_before").cast("double") / lit(budget.toDouble))
          .cast("long").as("shard"))
  }

  /** The q166 driver entry: OVERLAPPING DOCUMENT CHUNKING — the
    * context-window splitter every RAG index and long-document
    * pretraining pipeline runs first: fixed-length character windows
    * starting every `stride` chars (stride < chunkLen => consecutive
    * chunks OVERLAP by chunkLen - stride, so a span near a boundary
    * is wholly inside at least one chunk). Chunks carry two stable
    * identities: `chunk_uid` = md5(doc_id ':' start) — the CONTENT
    * ADDRESS downstream stores key on, stable under re-chunking
    * unrelated docs (the q68 content-addressed discipline) — and
    * `chunk_fp` = md5(chunk text), which pins the chunk's bytes under
    * the cross-engine hash compare without shipping the text itself.
    *
    * Scale shape: scan -> sequence/explode -> project, ZERO shuffle
    * and no window function — chunk starts derive from each row's own
    * length, so a 100 TB corpus chunks embarrassingly parallel and
    * the (overlap-amplified) output streams straight to the sink.
    * The last chunk of a doc is naturally short (substr past the end
    * truncates — identical semantics both engines); docs shorter than
    * one stride yield exactly one chunk.
    */
  def chunkDocuments(
      spark: SparkSession, sfDir: String,
      chunkLen: Int = 500, stride: Int = 400): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .where(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")), lit(stride)))
          .as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        col("start").cast("long").as("chunk_start"),
        length(col("text").substr(col("start"), lit(chunkLen)))
          .cast("long").as("chunk_len"),
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("start").cast("string"))).as("chunk_uid"),
        md5(col("text").substr(col("start"), lit(chunkLen)))
          .as("chunk_fp"))

  /** The q188 driver entry: NEGATIVE-SAMPLING TABLE (word2vec /
    * Mikolov et al. 2013) — the noise distribution contrastive
    * embedding training draws "wrong" words from: unigram counts
    * raised to the 3/4 power, the empirically-standard flattening
    * that keeps frequent words dominant without drowning the tail.
    * Builds the cumulative-weight table AND draws a deterministic
    * sample batch from it (the artifact a trainer consumes).
    *
    * The 3/4 power is exact-portable by construction: c^(3/4) =
    * sqrt(c)·sqrt(sqrt(c)) — sqrt is THE one power IEEE 754 defines
    * as correctly rounded (the q139 α=1/2 argument, composed), so
    * two sqrts and one multiply give bit-identical doubles on both
    * engines, floored once to micro-units. Draws are the salted-md5
    * 60-bit device (q84/q139/q144) reduced mod the total weight —
    * exact integers end to end; each draw lands in exactly one
    * [cum_lo, cum_hi) slot because the slots tile [0, W).
    *
    * Scale shape: the count pass is map-side combined over the gram
    * domain; the cumulative sum windows over the VOCABULARY domain
    * (bounded; at web scale: range-partitioned prefix sums, then
    * serve the table via the alias method); the draw join is a
    * broadcast of K rows against the vocab table — never a shuffle
    * of anything corpus-sized.
    */
  def negSamplingTable(
      spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    val counts = Tables.load(spark, sfDir, "documents")
      .select(explode(TextAnalysis.normWords(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    val w = counts.withColumn("w_micro",
      floor(lit(1000000.0) * (sqrt(cd) * sqrt(sqrt(cd)))).cast("long"))
    // cumsum slot order must be BYTE-STABLE across engines: Spark
    // compares strings by UTF-16 code unit, DuckDB by UTF-8 byte, so
    // a vocabulary mixing supplementary-plane tokens with U+E000..FFFF
    // would reorder slots and silently change every draw (round-10
    // advice). md5(tok) is hex-ASCII — lexicographic order is
    // identical in both engines and total (collision odds negligible);
    // tok stays as the tiebreak for the impossible-collision case.
    val wc = Window.orderBy(md5(col("tok")).asc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = w
      .withColumn("cum_hi", sum(col("w_micro")).over(wc).cast("long"))
      .withColumn("cum_lo", col("cum_hi") - col("w_micro"))
    val tot = cum.agg(max(col("cum_hi")).as("tw"))
    val draws = spark.range(1, k + 1).select(col("id").as("k"))
      .crossJoin(broadcast(tot))
      .withColumn("u", conv(substring(md5(concat(lit("neg:"),
        col("k").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("target", col("u") % col("tw"))
    cum.join(broadcast(draws),
        col("target") >= col("cum_lo") && col("target") < col("cum_hi"))
      .select(col("k"), col("tok"), col("c"), col("w_micro"),
        (col("w_micro").cast("double") / col("tw").cast("double"))
          .as("p"))
  }

  /** The q202 driver entry: SCALABLE DENSE-RANK ASSIGNMENT — give
    * every document a contiguous 1..N id under a global sort order
    * (longest-first here: the curriculum/packing order q70/q91
    * consume) WITHOUT the one-partition global sort that
    * `row_number() OVER (ORDER BY …)` costs at corpus scale. The
    * distributed device (the q200 prefix-scan, applied to counts):
    * value-range-bucket the sort key, count per bucket, EXCLUSIVE
    * prefix-sum the counts over the bucket domain (bounded window),
    * then number rows within each bucket (partitioned window) and
    * add the bucket's offset — identical output to the naive global
    * window, which is exactly what the oracle runs.
    *
    * At 100 TB the fixed-width buckets swap for q154's equi-depth
    * boundaries so partitions stay balanced under skew; the
    * two-pass shape is unchanged.
    */
  def denseRankAssign(spark: SparkSession, sfDir: String): DataFrame =
    denseRankAssignOn(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")))

  def denseRankAssignOn(docs: DataFrame): DataFrame = {
    val b = docs
      .withColumn("bk", floor(col("n_chars") / lit(16)).cast("long"))
    val counts = b.groupBy(col("bk")).agg(count(lit(1)).as("c"))
    // descending buckets: higher n_chars ranks first
    val wOff = Window.orderBy(col("bk").desc)
      .rowsBetween(Window.unboundedPreceding, -1L)
    val offs = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("bk"), col("off"))
    val wIn = Window.partitionBy(col("bk"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    b.join(broadcast(offs), Seq("bk"))
      .withColumn("dense_id",
        (col("off") + row_number().over(wIn)).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("dense_id"))
  }

  /** The q211 driver entry: RENDEZVOUS (highest-random-weight) SHARD
    * ASSIGNMENT + elasticity audit — the shard-routing device of
    * consistent-hashing systems (Thaler & Ravishankar 1998): each doc
    * scores every shard with an independent salted hash and lands on
    * the argmax, so ADDING a shard moves only the docs whose new
    * shard's weight exceeds their old max — ~n/(N+1) docs, where
    * modulo sharding (doc_id % N) would reshuffle nearly everything.
    * That elasticity is the property a 100 TB corpus re-shard lives
    * or dies by, and the entry AUDITS it: assign at N and at N+1 and
    * report, per shard, the before/after populations and how many
    * docs moved in.
    *
    * Weights are the salted-md5 60-bit device (q84/q188); the argmax
    * is computed INSIDE one row via array_max over (w, -s) structs —
    * ZERO shuffle for assignment at any corpus size (the only
    * exchange is the per-shard count aggregate over N+1 groups). The
    * oracle replays the same hex-prefix weights with an UNNEST +
    * window argmax — slower but bit-identical.
    */
  def rendezvousShards(
      spark: SparkSession, sfDir: String, shards: Int = 8): DataFrame = {
    def assignCol(n: Int): Column = {
      val ws = transform(sequence(lit(0), lit(n - 1)), sc =>
        struct(
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), sc.cast("string"))), 1, 15), 16, 10)
            .cast("long").as("w"),
          (-sc).cast("long").as("ns")))
      // struct compare is lexicographic: max w wins, ties prefer the
      // SMALLEST shard id (ns = -s, so larger ns = smaller s)
      (-array_max(ws).getField("ns")).cast("long")
    }
    val assigned = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        assignCol(shards).as("shard_b"),
        assignCol(shards + 1).as("shard_a"))
    val spine = spark.range(0, shards + 1).select(col("id").as("shard"))
    val before = assigned.groupBy(col("shard_b").as("shard"))
      .agg(count(lit(1)).as("n_before"))
    val after = assigned.groupBy(col("shard_a").as("shard"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("shard_a") =!= col("shard_b"), 1L).otherwise(0L))
          .as("moved_in"))
    spine
      .join(before, Seq("shard"), "left")
      .join(after, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"))
  }

  /** The q217 driver entry: PER-GROUP EXACT-K SAMPLE — the eval-set
    * construction primitive ("exactly 20 held-out docs per language")
    * that rate-based sampling (q84) cannot deliver: rank each group
    * by a salted md5 priority (uniform, content-independent, stable
    * under corpus growth for surviving docs) and keep rank <= k.
    *
    * Scale shape: the per-group rank is a window keyed by the GROUP —
    * with few giant groups that skews, so the production form is the
    * q89 bounded-TopK aggregate (per-partition k-prune, then merge);
    * here the group count is small and the window is the exact,
    * oracle-identical form. Priorities are md5 hex — byte-stable
    * order in both engines (the q188 rule).
    */
  def groupSample(
      spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val pri = md5(concat(lit("gs:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang"))
      .orderBy(pri.asc, col("doc_id").asc)
    Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("rk"))
  }

  private val coordinatedPct = 10

  /** The q262 driver entry: COORDINATED (JOIN-CONSISTENT) SAMPLING —
    * the warehouse sampling trick for multi-table pipelines: both
    * fact tables filter by the SAME salted hash of the JOIN KEY
    * (md5("cs:" + orderkey) bucket < 10%), so a sampled lineitem's
    * order is in the sample BY CONSTRUCTION — referential integrity
    * without exchanging sampled-key sets (no broadcast, no semi
    * join, no coordination state; membership is a row-local
    * expression on each table independently — at 100 TB that is the
    * entire point versus join-then-sample). Deterministic and
    * growth-stable like every q68-family hash device. The output is
    * the per-priority revenue profile of the sample; the spec pins
    * the integrity law (every sampled lineitem finds its order) and
    * the subset property.
    */
  def coordinatedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
      .where(hashBucket(col("o_orderkey"), "cs:", 100) < coordinatedPct)
    val l = Tables.load(spark, sfDir, "lineitem")
      .where(hashBucket(col("l_orderkey"), "cs:", 100) < coordinatedPct)
      .select(col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** The q260 driver entry: WINSORIZED ROBUST-SCALING ARTIFACT — the
    * outlier-clipping feature-prep step (winsorization at p01/p99)
    * every tabular training pipeline runs before normalization, with
    * NEAREST-RANK percentiles so the whole artifact is exact
    * integers: the bound is the value AT rank ⌈p·n/100⌉ in the
    * sorted multiset (no interpolation — the classic engine-pair
    * divergence of interpolated percentiles never arises), values
    * clamp to [lo, hi], and the artifact row per segment carries the
    * bounds, clip counts and clipped mean in micros (truncating DIV).
    *
    * Scale shape: one rank window per event_type (the standard
    * sort-shuffle; rank positions are read, never re-joined per row —
    * bounds reduce out of the same windowed pass via conditional
    * aggregation), then one final per-type aggregate.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val byType = Window.partitionBy(col("event_type"))
    val ranked = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), cents.as("v"))
      .withColumn("rk", row_number().over(byType.orderBy(col("v").asc)))
      .withColumn("n", count(lit(1)).over(byType))
    val bounds = ranked.groupBy(col("event_type"))
      .agg(
        min(when(col("rk") === expr("(1 * n + 99) DIV 100"),
          col("v"))).as("lo_cents"),
        min(when(col("rk") === expr("(99 * n + 99) DIV 100"),
          col("v"))).as("hi_cents"))
    ranked.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("v"), col("lo_cents"), col("hi_cents"),
        greatest(col("lo_cents"), least(col("hi_cents"), col("v")))
          .as("clamped"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(when(col("v") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("v") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        expr("""CAST((CAST(SUM(clamped) AS DECIMAL(38,0)) * 1000000)
                DIV COUNT(*) AS BIGINT)""").as("mean_clipped_micro"))
  }

  /** The q257 driver entry: MULTI-EPOCH DATA ORDER — the deterministic
    * per-epoch global shuffle every multi-epoch training run needs:
    * epoch e orders the corpus by md5("ep" + e + ":" + doc_id) (hex
    * priorities are byte-stable in both engines — the q188 rule), so
    * each epoch is a DIFFERENT but perfectly reproducible permutation
    * (restart a crashed epoch and get the identical batch sequence),
    * positions chunk into fixed 64-doc batches, and the output is the
    * per-batch manifest (doc count, char mass, head doc) a data
    * loader consumes.
    *
    * Scale shape: the only corpus-wide structure is the per-epoch
    * total order — the q78 device (RangePartitioning by sampled
    * bounds, no single-task sort) is how that order materializes at
    * 100 TB; here it is a per-epoch window rank. Everything after the
    * rank is a (pos-1) DIV 64 bucket aggregate with map-side combine.
    * Epochs fan out by a 2-element explode, not a self-join.
    */
  def epochOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val pri = md5(concat(lit("ep"), col("epoch").cast("string"),
      lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("epoch"))
      .orderBy(col("pri").asc, col("doc_id").asc)
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0L), lit(1L))).as("epoch"))
      .withColumn("pri", pri)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("epoch"), expr("(pos - 1) DIV 64").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min_by(col("doc_id"), col("pos")).as("head_doc"))
      .select(col("epoch"), col("batch_id"), col("n_docs"),
        col("sum_chars"), col("head_doc"))
  }

  /** The q221 driver entry: MERGEABLE MOMENT ARTIFACT lifecycle — the
    * two-level statistics pattern every sharded corpus relies on:
    * each shard materializes its (n, Σx, Σx²) moment triple as a tiny
    * parquet artifact (written and READ BACK here, the q46/q156
    * persisted-artifact device), and the global mean/variance merge
    * from the artifacts alone — raw data is never re-scanned for the
    * corpus-wide statistic, and moments merge associatively under any
    * regrouping. x is the per-doc token count.
    *
    * Exactness: the merged variance uses the integer identity
    * n·Σx² − (Σx)², scaled to micro and truncating-DIV'd by n² —
    * no Welford float recurrence, no accumulation-order hazard. The
    * identity's products are computed in DECIMAL(38,0) on the Spark
    * side and HUGEINT in the oracle (round-12 advice): in BIGINT,
    * (Σx)²·1e6 silently wraps past ~2^63 on one engine and raises on
    * the other once corpus token totals reach tens of millions.
    *
    * Scale shape: one doc-grain pass map-side combines to 8 shard
    * rows; everything downstream reads the 8-row artifact.
    */
  def mergeableMoments(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q221_moments", sfDir) { dir =>
      val per = Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") % 8).as("shard"),
          TextAnalysis.tokenCount(col("text")).as("x"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      per.write.mode("overwrite").parquet(s"$dir/moments")
      val back = Tables.parquet(spark, s"$dir/moments")
      val merged = back.agg(
        lit(-1L).as("shard"), sum(col("n")).as("n"),
        sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"))
      back.select(col("shard").cast("long"), col("n"), col("sx"),
          col("sxx"))
        .unionByName(merged)
        .select(col("shard"), col("n").cast("long").as("n"),
          col("sx").cast("long").as("sx"),
          col("sxx").cast("long").as("sxx"),
          // round-12 advice: the products (sx*1e6, n*sxx, sx*sx)
          // overflow signed 64-bit once corpus token totals reach
          // ~tens of millions — widen the INTERMEDIATES to
          // DECIMAL(38,0) (the HUGEINT the DuckDB twin already uses);
          // the DIV results are variance/mean-scale and fit BIGINT.
          // The artifact columns themselves stay BIGINT sums (exact
          // to ~9e18 — document-count x token-count bounds, not the
          // squared products that actually overflowed).
          expr("CAST((CAST(sx AS DECIMAL(38,0)) * 1000000) DIV n AS BIGINT)")
            .as("mean_micro"),
          expr("""CAST(((CAST(n AS DECIMAL(38,0)) * sxx -
                  CAST(sx AS DECIMAL(38,0)) * sx) * 1000000)
                DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""")
            .as("var_micro"))
    }

  /** HLL geometry (q236): 64 registers (6 index bits off a 60-bit
    * md5-derived hash, 54 rank bits), raw-regime estimator only. The
    * alpha constant is computed ONCE here and interpolated verbatim
    * into the oracle SQL (the q210 twiddle-table discipline), so both
    * engines divide by identical integers.
    */
  val HllRegisters = 64
  val HllRankMax = 55 // 54 hash bits: rank 1..54; all-zero word = 55
  val HllAlphaMicro: Long =
    math.floor(1000000.0 * 0.7213 / (1.0 + 1.079 / HllRegisters)).toLong
  /** alpha_micro * m^2 * 2^55 — the estimator numerator, exact. */
  val HllNumerator: BigInt =
    BigInt(HllAlphaMicro) * HllRegisters * HllRegisters *
      (BigInt(1) << HllRankMax)

  /** The q236 driver entry: MERGEABLE HYPERLOGLOG DISTINCT SKETCH —
    * the cardinality device every 100 TB catalog runs on: each shard
    * materializes a 64-register HLL over the document text (written
    * and READ BACK as a parquet artifact — the q221 moment-triple
    * lifecycle, for distinct counts instead of variance), and the
    * global register set merges by per-index MAX from the artifacts
    * alone — distinct-counting across shards without ever exchanging
    * document ids or text, the whole point of the sketch at scale
    * (exact global count_distinct shuffles every distinct value; the
    * merge shuffles 64 bytes per shard).
    *
    * DETERMINISTIC BY CONSTRUCTION: the "random" hash is the md5
    * device (q23/q31), the register index its low 6 bits, the rank
    * the leading-zero count of the remaining 54 bits via the q226
    * integer bin()-length device — so the sketch, the merge, and the
    * estimate are all exact integer arithmetic the DuckDB oracle
    * replays bit-for-bit. The estimator is the RAW HLL harmonic mean
    * E = alpha*m^2 / sum(2^-M_j), scaled by 2^55 so the register sum
    * is one BIGINT (<= 64 * 2^55 = 2^61) and the numerator divides in
    * DECIMAL(38)/HUGEINT (the q221 width discipline); the small- and
    * large-range corrections are intentionally omitted — the raw
    * estimator is the documented regime for n >= 2.5m = 160 — the
    * merged row satisfies it at every fixture SF, while the per-shard
    * slices at sf0.01 sit below it and show the raw estimator's known
    * high bias (the err_micro column makes that visible by design;
    * linear counting would need ln(), a transcendental the exactness
    * rule forbids, and the 100 TB deployment this models never counts
    * shards that small).
    *
    * Output: per shard and merged (-1, the q221 shape): row count,
    * exact distinct (the verification column), the HLL estimate, and
    * the relative error in micro units.
    *
    * Scale shape: one doc-grain pass map-side combines to 8x64
    * register rows; everything downstream reads the artifact. The
    * exact_distinct column is the AUDIT twin (a distinct shuffle) —
    * a production deployment drops it and keeps only the sketch.
    */
  /** Per-(shard, idx) max-rank registers over a (shard, text) frame —
    * spec entry point (mergeability and rank derivation are pinned on
    * literals and against an independent driver-side recompute).
    */
  private[graft] def hllRegisters(docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    docs
      .select(col("shard"), h.as("h"))
      .select(col("shard"),
        (col("h") % HllRegisters).as("idx"),
        shiftright(col("h"), 6).as("w"))
      .select(col("shard"), col("idx"),
        when(col("w") === 0, lit(HllRankMax.toLong))
          .otherwise(lit(HllRankMax.toLong) - length(bin(col("w"))))
          .as("rk"))
      .groupBy(col("shard"), col("idx"))
      .agg(max(col("rk")).as("m"))
  }

  def hllDistinctSketch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Scratch.withScratch(spark, "q236_hll", sfDir) { dir =>
      val m = HllRegisters
      val docs = Tables.load(spark, sfDir, "documents")
        .select((col("doc_id") % 8).as("shard"), col("text"))
      hllRegisters(docs)
        .write.mode("overwrite").parquet(s"$dir/registers")
      val back = Tables.parquet(spark, s"$dir/registers")
      val allRegs = back
        .unionByName(back.groupBy(col("idx")).agg(max(col("m")).as("m"))
          .select(lit(-1L).as("shard"), col("idx"), col("m")))
      val exact = docs.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("text")).as("exact_distinct"))
        .unionByName(docs.agg(lit(-1L).as("shard"),
          count(lit(1)).as("n_rows"),
          count_distinct(col("text")).as("exact_distinct")))
      exact.join(hllEstimateFrom(allRegs, "shard"), Seq("shard"))
        .select(col("shard"), col("n_rows"), col("exact_distinct"),
          col("hll_estimate"),
          expr("""CAST(abs(hll_estimate - exact_distinct) * 1000000
                DIV exact_distinct AS BIGINT)""").as("err_micro"))
    }

  /** The raw-regime estimate off a (key, idx, m) register frame —
    * shared by q236 (batch shards) and q249 (streaming state): spine
    * the missing registers at 0, fold 2^(55-m) into one BIGINT sum,
    * divide the interpolated alpha numerator in DECIMAL(38).
    */
  private[graft] def hllEstimateFrom(
      regs: DataFrame, key: String): DataFrame = {
    val spine = regs.select(col(key)).distinct()
      .select(col(key),
        explode(sequence(lit(0L), lit(HllRegisters - 1L))).as("idx"))
    spine
      .join(regs, Seq(key, "idx"), "left")
      .select(col(key),
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($HllRankMax - coalesce(m, 0) AS INT))").as("p"))
      .groupBy(col(key)).agg(sum(col("p")).as("s"))
      .select(col(key),
        expr(s"CAST((CAST('$HllNumerator' AS DECIMAL(38,0)) DIV s)" +
          " DIV 1000000 AS BIGINT)").as("hll_estimate"))
  }

  private val paddingWindow = 2048

  /** The q226 driver entry: PADDING-WASTE AUDIT — the training-
    * efficiency table behind sequence packing decisions: bucket
    * documents by log2 token length and report, per bucket, the
    * token volume plus the pad tokens two strategies would burn at a
    * 2048-token context: PAD-TO-WINDOW (one doc per sequence — the
    * naive collator) vs GREEDY CONCAT (q70's packing, waste only at
    * sequence tails: ceil(bucket_tokens / W)·W − bucket_tokens).
    * The gap between the two columns is the budget argument for
    * packing; all integer arithmetic.
    *
    * Truncated docs (tokens > W) contribute their overflow to
    * n_overflow_docs rather than fabricating negative pad counts.
    *
    * Scale shape: one doc-grain pass map-side combined to the
    * ~log2(max_len) bucket domain.
    */
  def paddingWasteAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextAnalysis.tokenCount(col("text"))
    val w = lit(paddingWindow.toLong)
    Tables.load(spark, sfDir, "documents")
      .select(toks.as("t"))
      .where(col("t") > 0)
      .select(col("t"),
        // floor(log2 t) via BIT LENGTH, not IEEE log: ln(2^k)/ln(2)
        // lands a hair under k on some k and floors to k-1 — integer
        // bin() length is exact in both engines
        (length(bin(col("t"))) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        sum(when(col("t") > w, 1L).otherwise(0L)).as("n_overflow_docs"),
        sum(when(col("t") <= w, w - col("t")).otherwise(0L))
          .as("pad_to_window_waste"))
      .select(col("bucket"), col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_overflow_docs").cast("long").as("n_overflow_docs"),
        col("pad_to_window_waste").cast("long").as("pad_to_window_waste"),
        (expr(s"((n_tokens + ${paddingWindow - 1}L) DIV ${paddingWindow}L)" +
          s" * ${paddingWindow}L") - col("n_tokens")).cast("long")
          .as("greedy_pack_waste"))
  }

  private val manifestWindow = 256
  private val manifestStride = 192

  /** The q227 driver entry: CONTEXT-WINDOW CHUNK MANIFEST — the most
    * common preprocessing op in the stack: split every document into
    * overlapping token windows (window 256, stride 192 — the HF
    * sliding convention) and emit the chunk table a pretrain shuffler
    * or RAG indexer consumes. A doc with t <= window is one chunk;
    * otherwise chunk i starts at i*stride and the count is
    * 1 + ceil((t - window)/stride) (integer ceil via
    * (t - window + stride - 1) DIV stride), so the last chunk always
    * reaches the document end and no chunk starts past it.
    *
    * Scale shape: pure row-local arithmetic + explode — zero shuffle;
    * the manifest is the artifact, order-free.
    */
  def chunkManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val t = TextAnalysis.tokenCount(col("text"))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), t.as("t"))
      .where(col("t") > 0)
      .withColumn("n_chunks",
        when(col("t") <= manifestWindow, lit(1L))
          .otherwise(lit(1L) +
            expr(s"(t - $manifestWindow + ${manifestStride - 1}L)" +
              s" DIV ${manifestStride}L")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * manifestStride).as("start_tok"),
        least(col("chunk_idx") * manifestStride + manifestWindow, col("t"))
          .as("end_tok"))
      .withColumn("n_toks", col("end_tok") - col("start_tok"))
  }

  /** The q230 driver entry: LARGEST-REMAINDER BUDGET APPORTIONMENT —
    * turn mixture weights into an actionable integer token allocation
    * (Hamilton's method): each domain gets floor(B·w/Σw), and the
    * leftover seats go to the largest fractional remainders
    * (remainder desc, lang asc — a total order). Allocations tile the
    * budget EXACTLY by construction; the weights here are q215's
    * final MWU weights, closing the loop from loss signal to token
    * budget.
    *
    * All integer: quotas are truncating DIVs, remainders exact mods,
    * the seat rank a window over the |domains| table.
    */
  /** q215's final weights, memoized per sfDir + data fingerprint
    * (file-metadata keyed, round-11 advice) — the apportionment
    * consumes the weights ARTIFACT (deterministic, so a cache hit is
    * result-identical); q215's own entry still times the real MWU
    * computation (the q157/q155 memo discipline).
    */
  private val mixtureWeightsMemo = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, Long)]]

  private val apportionBudget = 1000000L

  def budgetApportion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = mixtureWeightsMemo.getOrElseUpdate(
      sfDir + "@" + Tables.fingerprint(sfDir, "documents"),
      TextAnalysis.mixtureReweight(spark, sfDir)
        .select(col("lang"), col("w_micro")).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1))))
      .toDF("lang", "w_micro")
    val tot = w.agg(sum(col("w_micro")).as("tw"))
    val base = w.crossJoin(broadcast(tot))
      .select(col("lang"), col("w_micro"),
        expr(s"(${apportionBudget}L * w_micro) DIV tw").as("quota"),
        expr(s"(${apportionBudget}L * w_micro) % tw").as("rem"),
        col("tw"))
    val leftover = base
      .agg((lit(apportionBudget) - sum(col("quota"))).as("seats"))
    val ranked = base.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang").asc)).cast("long"))
    ranked.select(col("lang"), col("w_micro"), col("quota"),
        col("rem"), col("rk"),
        (col("quota") + when(col("rk") <= col("seats"), 1L)
          .otherwise(0L)).as("alloc_tokens"))
  }

  /** The q304 driver entry: LENGTH-BUCKETED BATCHING — the dynamic
    * batching rule that turns q226's padding-waste DIAGNOSIS into a
    * construction: batches of similar-length sequences waste less
    * capacity (every batch pads to its max), and grouping the
    * LENGTH-SORTED order into fixed-size batches provably minimizes
    * total Σ batch·max among all equal-size partitions — so the
    * entry builds BOTH manifests (salted-hash order = the naive
    * baseline, length-sorted order = the bucketed scheme) and
    * reports capacity, payload, and waste ppm for each; the spec
    * pins waste(sorted) ≤ waste(hashed), the optimality law in
    * miniature. All exact integers.
    *
    * Scale shape: one doc-grain token count, one global rank per
    * scheme via [[Relational.chunkedRowNumber]] (the q202 chunked
    * device — the hashed scheme buckets on the salt's 2-hex prefix,
    * the length-sorted scheme on fixed-width ntok ranges; round-13
    * verdict replaced the partition-less global windows here),
    * batch-grain aggregates after.
    */
  def lengthBucketedBatches(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"))
    def scheme(name: String, bucket: org.apache.spark.sql.Column,
        order: Seq[org.apache.spark.sql.Column]) =
      Relational.chunkedRowNumber(toks, bucket, order)
        .withColumn("batch_id",
          expr("CAST((rk - 1) DIV 8 AS BIGINT)"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("bs"), max(col("ntok")).as("mx"),
          sum(col("ntok")).as("tk"))
        .agg(count(lit(1)).cast("long").as("n_batches"),
          sum(col("bs") * col("mx")).cast("long").as("capacity_tokens"),
          sum(col("tk")).cast("long").as("payload_tokens"))
        .select(lit(name).as("scheme"), col("n_batches"),
          col("capacity_tokens"), col("payload_tokens"),
          expr("""CAST((capacity_tokens - payload_tokens) * 1000000
              DIV capacity_tokens AS BIGINT)""").as("waste_ppm"))
    val lbSalt = md5(concat(lit("lb:"), col("doc_id").cast("string")))
    scheme("hashed",
      bucket = substring(lbSalt, 1, 2),
      Seq(lbSalt.asc, col("doc_id").asc))
      .unionByName(scheme("length_sorted",
        bucket = Relational.rangeBucket(col("ntok"), 16),
        Seq(col("ntok").asc, col("doc_id").asc)))
  }

  private val packCapacity = 4096

  /** The q305 driver entry: GREEDY SEQUENCE-PACKING MANIFEST —
    * first-fit-decreasing packing of documents into fixed
    * context-window rows (pack-to-4096 with document boundaries kept
    * and one EOD separator token per doc), the manifest a pretraining
    * dataloader actually consumes: where q304 PADS equal-count
    * batches to their max length, packing CONCATENATES docs until the
    * window is full, so capacity per window is the constant tensor
    * width C and waste is only the trailing slack. Docs walk in
    * token-count-DESC order (the "decreasing" of FFD) and each lands
    * in the FIRST window with room, opening a new window only when
    * none fits — the classic 11/9·OPT+1 guarantee, and concretely:
    * when a window opens on item x, every earlier window held
    * fill > C − x, so within a chunk every window except the
    * last-opened ends with slack < the chunk's max item (spec-pinned).
    *
    * Scale shape: the FFD recurrence is inherently sequential, so it
    * runs CHUNK-LOCALLY — [[Relational.chunkedRowNumber]] ranks the
    * corpus without a global window, fixed rank-ranges of 256 docs
    * form chunks, and each chunk packs independently inside ONE
    * higher-order `aggregate` over its collected 256-element array
    * (the q284 bounded-fold device; state = per-window fills + the
    * assignment list, first-fit probe = array_position over a
    * transform — no UDF, no driver loop). Global window ids come from
    * an exclusive prefix-sum of per-chunk window counts over the
    * bounded chunk domain. Chunk independence costs at most one
    * under-full window per chunk vs corpus-global FFD — the price of
    * linear scaling, same trade as q202's buckets. The DuckDB oracle
    * replays the identical fold as a recursive CTE carrying the fills
    * list, so equality proves the whole sequential recurrence.
    */
  def packedWindows(spark: SparkSession, sfDir: String): DataFrame =
    packedWindowsFrom(
      packedAssignments(spark, sfDir), packCapacity)

  /** The per-doc (window_id, doc_id, ntok, item) assignment frame the
    * q305 manifest groups over — exposed so downstream audits (q335's
    * attention-mask accounting) consume the IDENTICAL first-fit fold
    * rather than re-deriving it.
    */
  def packedAssignments(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"))
      .withColumn("item", (col("ntok") + lit(1L)).cast("long"))
    val ranked = Relational.chunkedRowNumber(toks,
      bucket = Relational.rangeBucket(col("ntok"), 16, descending = true),
      order = Seq(col("ntok").desc, col("doc_id").asc))
    val lists = ranked
      .withColumn("chunk", expr("CAST((rk - 1) DIV 256 AS BIGINT)"))
      .groupBy(col("chunk"))
      .agg(array_sort(collect_list(struct(col("rk"), col("doc_id"),
        col("ntok"), col("item")))).as("xs"))
    // first-fit probe: 1-based index of the first window with room,
    // 0 when none (array_position's not-found convention)
    val p = "array_position(transform(acc.fills, " +
      s"f -> f + x.item <= ${packCapacity}L), true)"
    val folded = lists.withColumn("st", expr(
      s"""aggregate(
            xs,
            named_struct(
              'fills', CAST(array() AS ARRAY<BIGINT>),
              'asg', CAST(array() AS
                ARRAY<STRUCT<doc_id: BIGINT, win: BIGINT,
                             ntok: BIGINT, item: BIGINT>>)),
            (acc, x) -> IF($p = 0L,
              named_struct(
                'fills', concat(acc.fills, array(x.item)),
                'asg', concat(acc.asg, array(named_struct(
                  'doc_id', x.doc_id,
                  'win', CAST(size(acc.fills) + 1 AS BIGINT),
                  'ntok', x.ntok, 'item', x.item)))),
              named_struct(
                'fills', concat(
                  slice(acc.fills, 1, CAST($p AS INT) - 1),
                  array(element_at(acc.fills, CAST($p AS INT)) + x.item),
                  slice(acc.fills, CAST($p AS INT) + 1,
                    size(acc.fills) - CAST($p AS INT))),
                'asg', concat(acc.asg, array(named_struct(
                  'doc_id', x.doc_id, 'win', CAST($p AS BIGINT),
                  'ntok', x.ntok, 'item', x.item))))))"""))
      .select(col("chunk"), col("st"))
    // exclusive prefix-sum of per-chunk window counts: bounded chunk
    // domain, triangular join (no partition-less window — the
    // chunkedRowNumber rationale, reused)
    val counts = folded
      .select(col("chunk"), size(col("st.fills")).cast("long").as("nw"))
    val offs = counts.as("a")
      .join(counts.as("b"), col("b.chunk") < col("a.chunk"), "left")
      .groupBy(col("a.chunk").as("chunk"))
      .agg(coalesce(sum(col("b.nw")), lit(0L)).as("woff"))
    folded.join(broadcast(offs), Seq("chunk"))
      .select(col("woff"), explode(col("st.asg")).as("a"))
      .select((col("woff") + col("a.win")).cast("long").as("window_id"),
        col("a.doc_id").as("doc_id"), col("a.ntok").as("ntok"),
        col("a.item").as("item"))
  }

  def packedWindowsFrom(asg: DataFrame, capacity: Int): DataFrame =
    asg.groupBy(col("window_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ntok")).cast("long").as("payload_tokens"),
        sum(col("item")).cast("long").as("used_tokens"),
        (lit(capacity.toLong) - sum(col("item"))).cast("long")
          .as("slack_tokens"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")))).as("win_digest"))

  /** The q308 driver entry: DOMAIN-AFFINITY IMPORTANCE RESAMPLING
    * MANIFEST — the DSIR-shaped move (Xie et al. 2023, hashed-n-gram
    * importance weights) in exact integers: to up-sample corpus docs
    * that "look like" a target domain (here the en-labeled slice),
    * every word earns an affinity weight w = c_target·10⁶ DIV
    * c_corpus from the corpus dictionary, each doc scores the MEAN
    * weight of its word occurrences (Σ w(tok) DIV n_words — micro
    * units, truncating DIV, order-independent), and the manifest is
    * the top-100 docs under (score DESC, doc_id ASC) — the
    * resampled subcorpus a targeted continued-pretraining run reads.
    *
    * Scale shape: the dictionary aggregate is corpus-wide but
    * DICTIONARY-grain (the q155 posture — exchanges carry distinct
    * words, not occurrences); doc scoring joins the BROADCAST
    * dictionary against doc-local word counts (no occurrence-grain
    * shuffle: words collapse to (doc, word, cnt) map-side first);
    * the top-k rank rides [[Relational.chunkedRowNumber]] (bucket =
    * fixed-width score ranges DESC) instead of a partition-less
    * window, then keeps 100 rows.
    */
  def domainAffinitySample(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.normWords(col("text")))
          .as("tok"))
      .where(col("tok") =!= "")
    val dict = words.groupBy(col("tok"))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_en"))
      .select(col("tok"),
        expr("c_en * 1000000 DIV c_all").as("w_micro"))
    val perDoc = words.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(dict), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        sum(col("cnt") * col("w_micro")).cast("long").as("wsum"))
      .select(col("doc_id"), col("n_words"),
        expr("wsum DIV n_words").as("aff_micro"))
    Relational.chunkedRowNumber(perDoc,
      bucket = Relational.rangeBucket(col("aff_micro"), 10000L, descending = true),
      order = Seq(col("aff_micro").desc, col("doc_id").asc))
      .where(col("rk") <= 100)
      .select(col("rk").as("rnk"), col("doc_id"), col("n_words"),
        col("aff_micro"))
  }

  /** The q310 driver entry: EPOCH-SHUFFLE SHARD MANIFEST — the
    * deterministic reshuffle a multi-epoch pretraining run needs:
    * each epoch e permutes the corpus by the salted order
    * md5(e:doc_id) and deals it into 8 contiguous rank
    * ranges, so (a) every epoch reads a DIFFERENT order (no
    * epoch-to-epoch correlation for the optimizer to exploit),
    * (b) shard populations are balanced to ±1 by construction
    * (shard = (rk−1)·S DIV n), and (c) the whole plan is re-runnable
    * from the seed — no stored permutation, the q217 salted-hash
    * posture. The manifest reports each (epoch, shard)'s population,
    * rank span, and member digest.
    *
    * Scale shape: one corpus scan per epoch (a bounded union of 3),
    * each ranked by [[Relational.chunkedRowNumber]] on the salt's
    * 2-hex prefix — no partition-less window — and collapsed to the
    * bounded (epoch × shard) grain. Doc ids never shuffle as text;
    * the digest folds per shard.
    */
  def epochShards(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val n = docs.count()
    val perEpoch = (1 to 3).map { e =>
      val salt = md5(concat(lit(s"ep$e:"), col("doc_id").cast("string")))
      Relational.chunkedRowNumber(docs,
        bucket = substring(salt, 1, 2),
        order = Seq(salt.asc, col("doc_id").asc))
        .select(lit(e.toLong).as("epoch"), col("doc_id"), col("rk"),
          expr(s"CAST((rk - 1) * 8 DIV ${n}L AS BIGINT)").as("shard"))
    }
    perEpoch.reduce(_.unionByName(_))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("rk")).cast("long").as("min_rank"),
        max(col("rk")).cast("long").as("max_rank"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")))).as("shard_digest"))
  }

  private val interleaveGrid = 4

  /** The q314 driver entry: INTERLEAVED MULTIMODAL SEQUENCE MANIFEST
    * — the VLM data-prep shape (M3W/Flamingo lineage): an interleaved
    * document is a SEGMENT LIST mixing text spans and image-patch
    * blocks, and the trainer consumes a manifest of per-segment token
    * counts, not raw bytes. The fixture's media convention (q50:
    * doc_id % 3 == 0 carries a BMP) drives the layout: image docs
    * split their text at ⌈n/2⌉ tokens and interleave
    * [text, image, text] — the image block costs 16 patch tokens
    * (q256's 4×4 grid) + 2 boundary separators — while text-only
    * docs are one segment. Output is segment-grain: (doc_id,
    * seg_idx, seg_type, n_tokens) plus the doc's total sequence
    * length, the number a context-window packer (q305) would consume
    * next.
    *
    * Scale shape: strictly row-local arithmetic on token counts —
    * the payload bytes are never touched at all (the patch count is
    * the grid constant, the decode stays in q256); zero shuffle.
    */
  def interleavedManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val patches = interleaveGrid * interleaveGrid
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"))
      .where(col("ntok") >= 1)
      .withColumn("is_img", col("doc_id") % 3 === 0)
      .withColumn("total", when(col("is_img"),
        col("ntok") + lit(patches.toLong + 2L)).otherwise(col("ntok")))
    val segs = toks.select(col("doc_id"), col("ntok"), col("is_img"),
      col("total"),
      explode(when(col("is_img"), array(
        struct(lit(0L).as("seg_idx"), lit("text").as("seg_type"),
          expr("CAST((ntok + 1) DIV 2 AS BIGINT)").as("n_tokens")),
        struct(lit(1L).as("seg_idx"), lit("image").as("seg_type"),
          lit(patches.toLong + 2L).as("n_tokens")),
        struct(lit(2L).as("seg_idx"), lit("text").as("seg_type"),
          expr("CAST(ntok - (ntok + 1) DIV 2 AS BIGINT)").as("n_tokens"))))
        .otherwise(array(
          struct(lit(0L).as("seg_idx"), lit("text").as("seg_type"),
            col("ntok").cast("bigint").as("n_tokens")))))
        .as("s"))
    segs.select(col("doc_id"), col("s.seg_idx").as("seg_idx"),
      col("s.seg_type").as("seg_type"), col("s.n_tokens").as("n_tokens"),
      col("total").cast("long").as("doc_seq_len"),
      (col("total") <= 4096L).as("fits_context"))
  }

  /** The q315 driver entry: DATASET DATASHEET (per-source release
    * card) — the statistics bundle every corpus release ships
    * (Datasheets for Datasets, Gebru et al. 2021; the HF dataset-card
    * table): per source, document and token counts, language spread,
    * the english share, exact-duplicate pressure (docs whose
    * normalized fingerprint repeats WITHIN the source), and the
    * nearest-rank lower median of document length. One manifest row
    * per source — the at-a-glance table a consumer reads before
    * training on the feed.
    *
    * Scale shape: everything is source-keyed — fingerprint counts
    * collapse (source, fp)-grain with map-side combine, the median
    * rides a SOURCE-PARTITIONED rank window (keyed exchange, never a
    * global one), and the final grain is the bounded source domain.
    */
  def datasetDatasheet(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"),
        md5(graft.operators.TextAnalysis.normalizedText(col("text")))
          .as("fp"))
    val dupDocs = docs.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(when(col("c") > 1L, col("c")).otherwise(0L))
        .cast("long").as("n_dup_docs"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val med = docs
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .withColumn("nsrc", count(lit(1))
        .over(Window.partitionBy(col("source"))).cast("long"))
      .where(col("rn") === expr("(nsrc + 1) DIV 2"))
      .select(col("source"), col("n_chars").as("median_chars"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ntok")).cast("long").as("total_tokens"),
        count_distinct(col("lang")).cast("long").as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
          .as("n_en"))
      .join(dupDocs, Seq("source"))
      .join(med, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_langs"), col("n_en"),
        expr("n_en * 1000000 DIV n_docs").as("en_share_ppm"),
        col("n_dup_docs"), col("median_chars"))
  }

  /** The q318 driver entry: SFT BATCH LOSS-DENSITY AUDIT — the
    * instruction-tuning twin of q304's padding-waste audit: in SFT,
    * loss is computed ONLY on completion tokens (the prompt is
    * masked), so a batch's useful signal is not its payload but its
    * COMPLETION mass — and batching policy changes it. Each doc
    * splits prompt/completion at ⌈n/2⌉ (the fixture's stand-in for
    * the prompt boundary); docs batch under BOTH q304 schemes
    * (salted-hash order vs length-sorted order — monotone in
    * completion length under the ⌈n/2⌉ split — fixed size 8, ranks
    * via [[Relational.chunkedRowNumber]]); per scheme
    * the audit reports capacity (Σ bs·max_len), completion mass, and
    * LOSS DENSITY (completion tokens per padded slot, ppm) — the
    * number that tells a training team how much of every padded
    * batch actually trains the model. The spec pins the per-doc
    * split law, conservation across schemes, and that sorting lifts
    * density.
    *
    * Scale shape: q304's — doc-grain token counts, chunked ranks,
    * batch-grain then scheme-grain aggregates; zero partition-less
    * windows.
    */
  def sftLossDensity(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"))
      .where(col("ntok") >= 2)
      .withColumn("n_prompt", expr("CAST((ntok + 1) DIV 2 AS BIGINT)"))
      .withColumn("n_completion", (col("ntok") - col("n_prompt")).cast("long"))
    def scheme(name: String, bucket: Column, order: Seq[Column]) =
      Relational.chunkedRowNumber(toks, bucket, order)
        .withColumn("batch_id",
          expr("CAST((rk - 1) DIV 8 AS BIGINT)"))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("bs"), max(col("ntok")).as("mx"),
          sum(col("n_completion")).as("loss_toks"))
        .agg(count(lit(1)).cast("long").as("n_batches"),
          sum(col("bs") * col("mx")).cast("long").as("capacity_tokens"),
          sum(col("loss_toks")).cast("long").as("loss_tokens"))
        .select(lit(name).as("scheme"), col("n_batches"),
          col("capacity_tokens"), col("loss_tokens"),
          expr("""CAST(loss_tokens * 1000000 DIV capacity_tokens
              AS BIGINT)""").as("loss_density_ppm"))
    val sftSalt = md5(concat(lit("sft:"), col("doc_id").cast("string")))
    scheme("hashed",
      bucket = substring(sftSalt, 1, 2),
      Seq(sftSalt.asc, col("doc_id").asc))
      .unionByName(scheme("length_sorted",
        bucket = Relational.rangeBucket(col("ntok"), 16),
        Seq(col("ntok").asc, col("doc_id").asc)))
  }

  /** The q319 driver entry: CRAWL-SNAPSHOT DIFF — q108's table-diff
    * move lifted to corpus grain: two crawl snapshots of the same
    * sources diff into added / removed / changed / unchanged classes
    * by doc key, with content change detected on the normalized-text
    * fingerprint (so whitespace-only churn is NOT a change), plus
    * each source's changed-ratio — the freshness dashboard a
    * recrawl pipeline publishes. Snapshot v2 is PLANTED from v1 and
    * replayed verbatim in the oracle (the q259 discipline): every
    * 31st doc is dropped (removed), every 29th surviving doc gains
    * an appended marker word (changed), and every 37th doc returns
    * under a shifted id (added). The shift maps into the NEGATIVE
    * key space (−id−1): corpus ids are non-negative on every SF, so
    * the planted "added" rows can never collide with a genuine v1
    * key — an additive offset (the old +9·10⁶) silently reclassifies
    * planted rows once ids reach the offset, and both engines would
    * agree on the wrong answer (round-15 advice).
    *
    * Scale shape: one full-outer join on doc key carrying ONLY
    * (key, fp, source) — 16-byte digests, never text (the q20
    * posture) — then a source-grain class count. At 100 TB both
    * sides shuffle once on the key; nothing else moves.
    */
  def crawlDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        md5(graft.operators.TextAnalysis.normalizedText(col("text")))
          .as("fp"))
    val v2base = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") % 31 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 29 === 0,
          md5(concat(graft.operators.TextAnalysis.normalizedText(col("text")),
            lit(" recrawled"))))
          .otherwise(md5(graft.operators.TextAnalysis
            .normalizedText(col("text")))).as("fp"))
    val v2 = v2base.unionByName(
      Tables.load(spark, sfDir, "documents")
        .where(col("doc_id") % 37 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("source"),
          md5(graft.operators.TextAnalysis.normalizedText(col("text")))
            .as("fp")))
    v1.select(col("doc_id"), col("source").as("src1"), col("fp").as("fp1"))
      .join(v2.select(col("doc_id"), col("source").as("src2"),
        col("fp").as("fp2")), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("class"))
      .groupBy(col("source"), col("class"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).cast("long").as("n_total"),
        sum(when(col("class") === "added", col("n_docs")).otherwise(0L))
          .cast("long").as("n_added"),
        sum(when(col("class") === "removed", col("n_docs")).otherwise(0L))
          .cast("long").as("n_removed"),
        sum(when(col("class") === "changed", col("n_docs")).otherwise(0L))
          .cast("long").as("n_changed"),
        sum(when(col("class") === "unchanged", col("n_docs")).otherwise(0L))
          .cast("long").as("n_unchanged"))
      .select(col("source"), col("n_total"), col("n_added"),
        col("n_removed"), col("n_changed"), col("n_unchanged"),
        expr("""CAST((n_added + n_removed + n_changed) * 1000000
            DIV n_total AS BIGINT)""").as("churn_ppm"))
  }

  /** The q317 driver entry: DATA-ECHO BUDGET AUDIT — the
    * data-constrained-scaling accounting (Muennighoff et al. 2023):
    * when the token budget B exceeds the corpus T, every doc is seen
    * ⌊B/T⌋ full epochs and a REMAINDER prefix of the (salted-hash
    * ranked) corpus is echoed once more, the last remainder doc
    * truncated so the budget is spent EXACTLY. Per doc: its rank in
    * the echo order, epochs seen, and exact seen-token count; the
    * spec pins the telescoping law Σ seen_tokens = B to the token
    * (the clamp contributions telescope to exactly R = B mod T) and
    * the {e, e+1} epoch partition.
    *
    * Budget here is B = (17·T) DIV 5 = 3.4 epochs — fixed rational
    * so both engines derive it identically from the corpus.
    *
    * Scale shape: one token-count scan, one chunked salted rank
    * ([[Relational.chunkedRowNumber]]) and one chunked EXCLUSIVE
    * prefix sum ([[Relational.chunkedPrefixSum]]) over the same
    * order — the remainder cut is then row-local clamp arithmetic;
    * no partition-less window anywhere.
    */
  def dataEchoAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"))
          .as("ntok"))
      .where(col("ntok") >= 1)
    // empty corpus: SUM is NULL and there is no budget to spend —
    // the ranked frame below is already empty, so any finite
    // (budget, epochs, remainder) triple yields the correct empty
    // output (the EmptyInputSpec contract)
    val t = Option(toks.agg(sum(col("ntok"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val budget = (17L * t) / 5L
    val fullEpochs = if (t > 0) budget / t else 0L
    val remainder = budget - fullEpochs * t
    val salt = md5(concat(lit("echo:"), col("doc_id").cast("string")))
    val ranked = Relational.chunkedPrefixSum(
      Relational.chunkedRowNumber(toks,
        bucket = substring(salt, 1, 2),
        order = Seq(salt.asc, col("doc_id").asc), out = "echo_rank"),
      bucket = substring(salt, 1, 2),
      order = Seq(salt.asc, col("doc_id").asc),
      value = col("ntok"), out = "cum_before")
    ranked.select(col("doc_id"), col("ntok"), col("echo_rank"),
        greatest(lit(0L), least(col("ntok"),
          lit(remainder) - col("cum_before"))).as("extra_tokens"))
      .select(col("doc_id"), col("ntok"), col("echo_rank"),
        col("extra_tokens"),
        (lit(fullEpochs) + when(col("extra_tokens") > 0L, 1L)
          .otherwise(0L)).cast("long").as("n_epochs_seen"),
        (lit(fullEpochs) * col("ntok") + col("extra_tokens"))
          .cast("long").as("seen_tokens"))
  }

  /** The q316 driver entry: FIM (FILL-IN-THE-MIDDLE) TRANSFORM
    * MANIFEST — the code/infilling data op (Bavarian et al. 2022):
    * a deterministic fraction of docs is split at two salted cut
    * points into prefix/middle/suffix and re-serialized with FIM
    * sentinels in PSM ([pre][suf][mid]) or SPM ([suf][pre][mid])
    * order, so the model learns to infill; the rest pass through.
    * All randomness is the salted-md5 60-bit device (q118/q296):
    * the FIM gate (50%), the two cuts (1 ≤ c1 < c2 ≤ n−1, all
    * three spans nonempty by construction), and the PSM/SPM choice
    * are each independent hashes of doc_id, so the whole transform
    * is re-runnable and the oracle replays it bit-for-bit. The
    * re-serialized stream travels as an md5 digest over the
    * sentinel-interleaved word sequence (the q296 fingerprint
    * discipline — transformed TEXT never shuttles).
    *
    * Scale shape: strictly row-local (hashes, slices, one digest);
    * zero shuffle — the q50/q306 embarrassing-parallel posture.
    * Spec pins the span partition law (pre+mid+suf reconstructs the
    * doc), cut bounds, both orders occurring, and the ~50/50 gate.
    */
  def fimTransform(spark: SparkSession, sfDir: String): DataFrame = {
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(salt),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.normWords(col("text"))
          .as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .where(col("n") >= 4L)
      .withColumn("fim", h("fimg:") % 100L < 50L)
      .withColumn("c1",
        when(col("fim"), lit(1L) + h("fimc1:") % (col("n") - 2L))
          .otherwise(0L))
      .withColumn("c2",
        when(col("fim"),
          col("c1") + 1L + h("fimc2:") % (col("n") - 1L - col("c1")))
          .otherwise(0L))
      .withColumn("mode",
        when(!col("fim"), "none")
          .when(h("fimm:") % 2L === 0L, "psm").otherwise("spm"))
    val pre = expr("slice(w, 1, CAST(c1 AS INT))")
    val mid = expr("slice(w, CAST(c1 AS INT) + 1, CAST(c2 - c1 AS INT))")
    val suf = expr("slice(w, CAST(c2 AS INT) + 1, CAST(n - c2 AS INT))")
    val stream = when(col("mode") === "psm",
        concat(array(lit("<fim_pre>")), pre, array(lit("<fim_suf>")), suf,
          array(lit("<fim_mid>")), mid))
      .when(col("mode") === "spm",
        concat(array(lit("<fim_suf>")), suf, array(lit("<fim_pre>")), pre,
          array(lit("<fim_mid>")), mid))
      .otherwise(col("w"))
    docs.select(col("doc_id"), col("fim"), col("mode"),
      col("n").as("n_tokens"), col("c1").as("cut1"), col("c2").as("cut2"),
      when(col("fim"), col("c1")).otherwise(0L).as("len_pre"),
      when(col("fim"), col("c2") - col("c1")).otherwise(0L).as("len_mid"),
      when(col("fim"), col("n") - col("c2")).otherwise(0L).as("len_suf"),
      md5(concat_ws(" ", stream)).as("stream_digest"))
  }

  private val contaminationN = 5

  /** The q313 driver entry: CROSS-SPLIT CONTAMINATION AUDIT — the
    * train/eval n-gram overlap scan every serious eval pipeline runs
    * (the GPT-3 appendix-C dedup rule, Brown et al. 2020): an eval
    * doc whose word 5-grams largely appear in the training split is
    * scoring the model on memorized text. Composes two proven
    * devices: q68's content-addressed split (so the audit sees the
    * SAME split the training manifest uses) and q21's distinct
    * shingle grain. Per eval doc: distinct 5-grams, how many also
    * occur anywhere in train, contamination ppm (truncating DIV),
    * and the > 50% flag. The fixture's rotation twins make this
    * genuinely fire (11 of 108 eval docs at sf0.01, one at 100%) —
    * no planting needed.
    *
    * Scale shape: grams travel as md5-16 DIGESTS, never strings (the
    * q307 posture); the train side collapses to its DISTINCT gram
    * dictionary map-side before the one gram-keyed LEFT join; doc
    * verdicts are a doc-grain aggregate. No all-pairs anything —
    * cost is the shingle scan plus one dictionary-grain join.
    */
  def splitContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.normWords(col("text"))
          .as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
      .where(col("nw") >= contaminationN)
      .withColumn("split",
        when(hashBucket(col("doc_id"), "", splitBuckets) < trainBuckets,
          "train").otherwise("eval"))
    val grams = docs
      .withColumn("i", explode(expr(
        s"sequence(1, CAST(nw AS INT) - ${contaminationN - 1})")))
      .select(col("doc_id"), col("split"),
        substring(md5(concat_ws(" ",
          (0 until contaminationN).map(d =>
            element_at(col("w"), col("i") + d)): _*)),
          1, 16).as("g"))
      .distinct()
    val trainSet = grams.where(col("split") === "train")
      .select(col("g")).distinct()
      .withColumn("in_train", lit(true))
    grams.where(col("split") === "eval")
      .join(trainSet, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("in_train"), 1L).otherwise(0L)).cast("long")
          .as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        expr("n_shared * 1000000 DIV n_grams").as("contamination_ppm"))
      .withColumn("flagged", col("contamination_ppm") > 500000L)
  }

  /** The q312 driver entry: CORPUS-EXPORT OFFSET INDEX — the byte
    * manifest of the single-stream export format pretraining readers
    * mmap: documents concatenate in doc_id order with a 1-byte
    * separator, and each doc's [start, end) byte span in that stream
    * is its exclusive running sum of (n_chars + 1). The index is what
    * makes the flat file RANDOM-ACCESS (a reader seeks doc i without
    * scanning), and building it at corpus scale is exactly the
    * global-prefix-sum problem — served by
    * [[Relational.chunkedPrefixSum]] (the q202 device with SUM in
    * place of COUNT; fixed-width id-range buckets, no partition-less
    * window; the naive window IS the oracle).
    *
    * Scale shape: one scan, one bounded bucket-domain triangular
    * join, one bucket-partitioned window. Output is doc-grain
    * arithmetic; text bytes never move.
    */
  def exportOffsets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .withColumn("n_bytes", (col("n_chars") + 1L).cast("long"))
    Relational.chunkedPrefixSum(docs,
      bucket = Relational.rangeBucket(col("doc_id"), 4096),
      order = Seq(col("doc_id").asc),
      value = col("n_bytes"), out = "start_offset")
      .select(col("doc_id"), col("n_bytes"), col("start_offset"),
        (col("start_offset") + col("n_bytes")).cast("long")
          .as("end_offset"))
  }

  /** The q306 driver entry: SLIDING-WINDOW CHUNK MANIFEST — the
    * overlap-stride chunking every RAG ingestion and long-document
    * embedding pipeline runs before q301 can assemble contexts: a doc
    * of n (whitespace-normalized) words yields chunks of up to `win`
    * words starting every `stride` words, so consecutive chunks share
    * `win - stride` words of context and no boundary sentence is ever
    * split away from both its neighbors. The chunk count is the
    * closed form k = max(1, ⌈(n − overlap) / stride⌉) — chunk i
    * covers [i·stride, min(i·stride + win, n)), the last chunk
    * absorbs the tail remainder, and every word is covered (the spec
    * pins coverage, the exact-overlap law, and a driver-side digest
    * replay). Each chunk carries the md5 of its word span — the
    * stand-in for the chunk id an embedding index would key on.
    *
    * Scale shape: strictly doc-local — one projection computes the
    * word array, k explodes from a closed-form `sequence`, and every
    * chunk column (start, len, digest) is arithmetic + an array
    * slice on that row. No shuffle at all beyond the scan; at 100 TB
    * this is the embarrassing-parallel shape (the q50 frame-sample
    * posture). Chunk text itself never leaves the row — only the
    * 32-hex digest is emitted.
    */
  /** q306/q377 default chunk geometry — named so the oracle
    * generators interpolate the SAME values the Spark defaults use.
    */
  val chunkWin: Int = 64
  val chunkStride: Int = 48

  def slidingChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val ov = chunkWin - chunkStride
    val words = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.normWords(col("text"))
          .as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .where(col("n") > 0 && element_at(col("w"), 1) =!= "")
    words
      .withColumn("k", expr(
        s"CAST(GREATEST(1L, (n - ${ov}L + ${chunkStride - 1}L)" +
          s" DIV ${chunkStride}L) AS BIGINT)"))
      .withColumn("i", explode(expr("sequence(0L, k - 1L)")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("k").as("n_chunks"), col("i").cast("long").as("chunk_idx"),
        (col("i") * chunkStride).cast("long").as("start_tok"),
        least(lit(chunkWin.toLong), col("n") - col("i") * chunkStride)
          .cast("long").as("len_tok"),
        md5(concat_ws(" ", slice(col("w"),
          (col("i") * chunkStride + 1).cast("int"),
          least(lit(chunkWin.toLong), col("n") - col("i") * chunkStride)
            .cast("int"))))
          .as("chunk_digest"))
  }

  private val topicBudget = 100L

  /** The q302 driver entry: TOPIC-BALANCED SUBCORPUS MANIFEST — the
    * cluster-balanced curation move (DCLM/DataComp lineage): web-scale
    * corpora are topically lopsided, so a quality subcorpus samples
    * ACROSS semantic clusters rather than uniformly. Composition of
    * three proven devices: q32's seeded-codebook cell assignment
    * (topics), q230's Hamilton largest-remainder apportionment over
    * √size weights (α = ½ temperature flattening — q139's exponent,
    * here on cluster mass: big topics can't swamp the budget, small
    * topics keep representation), and q217's salted-md5 deterministic
    * per-cell exact-k sample, capped at cell size (an under-full cell
    * yields its shortfall rather than oversampling — documented).
    * √size is ONE IEEE sqrt of an exact integer, floored (the q141
    * single-op rule).
    *
    * Scale shape: one broadcast-codebook argmax pass (the q32 plan —
    * vectors never shuffle), cell-grain apportionment on the bounded
    * cell domain, one per-cell rank window for the sample.
    */
  def topicBalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vectors.l2normalize(col("embedding")).as("u"))
    val cells = graft.operators.Similarity.assignCells(corpus,
      graft.operators.Similarity.seededCodebook(corpus, 16))
    val sizes = cells.groupBy(col("c_id"))
      .agg(count(lit(1)).cast("long").as("sz"))
      .withColumn("w",
        expr("CAST(FLOOR(SQRT(CAST(sz AS DOUBLE))) AS BIGINT)"))
    val tot = sizes.agg(sum(col("w")).as("tw"))
    val base = sizes.crossJoin(broadcast(tot))
      .select(col("c_id"), col("sz"), col("w"),
        expr(s"(${topicBudget}L * w) DIV tw").as("quota"),
        expr(s"(${topicBudget}L * w) % tw").as("rem"))
    val leftover = base.agg((lit(topicBudget) - sum(col("quota"))).as("seats"))
    val quotas = base.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("c_id").asc)).cast("long"))
      .select(col("c_id"), col("sz"), col("w"),
        least(col("quota") +
          when(col("rk") <= col("seats"), 1L).otherwise(0L), col("sz"))
          .cast("long").as("take"))
    val sampled = cells
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("c_id")).orderBy(
          md5(concat(lit("tb:"), col("vec_id").cast("string"))).asc,
          col("vec_id").asc)).cast("long"))
      .join(quotas.select(col("c_id"), col("take")), "c_id")
      .filter(col("srk") <= col("take"))
    quotas.join(sampled.groupBy(col("c_id"))
        .agg(count(lit(1)).cast("long").as("n_sampled"),
          md5(concat_ws(",", array_sort(
            collect_list(col("vec_id").cast("string")))))
            .as("sample_digest")),
      Seq("c_id"), "left")
      .select(col("c_id"), col("sz"), col("w"), col("take"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sample_digest"), md5(lit(""))).as("sample_digest"))
  }

  /** The q296 driver entry: SPAN-CORRUPTION MANIFEST (T5/UL2 shape) —
    * the denoising-objective data transform: ~15% of tokens are
    * masked, CONSECUTIVE masked tokens merge into one span, each
    * span is replaced by a numbered sentinel in the input while the
    * target lists every sentinel followed by its original tokens —
    * the (input, target) pair a span-corruption pretraining batch
    * feeds the model. The mask decision is the salted-md5 per-(doc,
    * position) gate (the q118 60-bit device — re-runnable, and a
    * re-ingested doc corrupts identically), span numbering is a
    * start-flag cumsum per doc, and both rendered strings travel as
    * md5 fingerprints under the hash compare, so a mis-merged span
    * or mis-numbered sentinel fails the oracle.
    *
    * Scale shape: everything is doc-local — one (doc, pos) explode,
    * one doc-keyed window pass for the span bookkeeping, one
    * doc-grain ordered re-join (q266's posture). No joins.
    */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(TextAnalysis.normWords(col("text")))
        .as(Seq("pos", "tok")))
      .where(length(col("tok")) >= 1)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val spans = toks
      .withColumn("m", expr(
        s"""CAST(conv(substring(md5(concat('mask:',
            CAST(doc_id AS STRING), ':', CAST(pos AS STRING))), 1, 15),
            16, 10) AS BIGINT) % 100 < 15"""))
      .withColumn("prev_m", lag(col("m"), 1, false).over(w))
      .withColumn("start", col("m") && !col("prev_m"))
      .withColumn("span_idx", when(col("m"),
        sum(when(col("start"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1L))
    val sentinel = concat(lit("<extra_id_"), col("span_idx"), lit(">"))
    val inputPiece = when(!col("m"), col("tok"))
      .when(col("start"), sentinel)
    val targetPiece = when(col("start"),
      concat(sentinel, lit(" "), col("tok")))
      .when(col("m"), col("tok"))
    def rendered(piece: Column): Column =
      md5(array_join(filter(transform(
        array_sort(collect_list(struct(col("pos"), piece.as("p")))),
        x => x.getField("p")), x => x.isNotNull), " "))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).cast("long").as("n_masked"),
        sum(when(col("start"), 1L).otherwise(0L)).cast("long")
          .as("n_spans"),
        rendered(inputPiece).as("input_fp"),
        rendered(targetPiece).as("target_fp"))
  }
  private val curriculumStageCount = 4

  /** The q327 driver entry: CURRICULUM PACING MANIFEST — the
    * easy-to-hard training schedule (Bengio et al. 2009 curriculum
    * learning, with the exponential pacing of Platanios et al. 2019):
    * documents are scored for difficulty by WORD RARITY — per doc,
    * difficulty = Σ_w (10⁶ DIV corpus_count(w)), a per-term
    * truncating division so the sum is order-free and exact (rare
    * words dominate; the 31-word fixture dictionary broadcasts, as
    * any real vocabulary's count table would) — then globally ranked
    * easy-first through [[graft.operators.Relational.chunkedRowNumber]]
    * (fixed-width difficulty-range buckets, no partition-less window)
    * and cut into `curriculumStageCount` exponentially growing stages: stage s
    * covers ranks up to N·(2^s − 1) DIV (2^stages − 1), so each stage
    * doubles the budget of the previous and the boundaries tile N
    * exactly (the telescoping is spec-pinned). Output: one row per
    * stage — counts, the difficulty span, token mass — the manifest a
    * training loop reads its schedule from.
    *
    * Scale shape: one fact-scale word explode into a broadcast-
    * dictionary join and a doc-grain sum, one chunked global rank,
    * then a bounded reduce onto the `curriculumStageCount` domain.
    * The stage CASE chain is row-local integer arithmetic.
    */
  def curriculumStages(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(split(graft.operators.TextAnalysis
          .normalizedText(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
    val counts = words.groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val difficulty = words.join(broadcast(counts), "w")
      .groupBy(col("doc_id"))
      .agg(sum(expr("1000000 DIV cnt")).cast("long").as("difficulty"),
        count(lit(1)).cast("long").as("ntok"))
    val ranked = Relational.chunkedRowNumber(difficulty,
      bucket = Relational.rangeBucket(col("difficulty"), 1L << 20),
      order = Seq(col("difficulty").asc, col("doc_id").asc))
    val total = difficulty.agg(count(lit(1)).cast("long").as("nn"))
    val denom = (1L << curriculumStageCount) - 1L
    val stageExpr = (1 to curriculumStageCount)
        .foldRight(lit(curriculumStageCount.toLong): Column) {
      (s, rest) =>
        when(col("rk") <= expr(s"nn * ${(1L << s) - 1L} DIV $denom"),
          lit(s.toLong)).otherwise(rest)
    }
    ranked.crossJoin(broadcast(total))
      .withColumn("stage", stageExpr)
      .groupBy(col("stage"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("difficulty")).cast("long").as("min_difficulty"),
        max(col("difficulty")).cast("long").as("max_difficulty"),
        sum(col("ntok")).cast("long").as("stage_tokens"),
        min(col("rk")).cast("long").as("first_rank"),
        max(col("rk")).cast("long").as("last_rank"))
  }

  /** The q335 driver entry: PACKING ATTENTION-MASK AUDIT — the
    * cross-document attention accounting behind "document masking"
    * (Llama 3's packing ablations; the contamination every packed
    * pretraining batch carries unless the attention mask blocks it):
    * in a packed window holding docs of lengths l₁..lₘ (q305's
    * first-fit fills, consumed via [[packedAssignments]] — the SAME
    * fold, never re-derived), causal attention offers T·(T−1)/2
    * token pairs (T = Σ lᵢ), of which only Σ lᵢ·(lᵢ−1)/2 are
    * intra-document; everything else is cross-document leakage a
    * mask must remove (or the trainer accepts as noise). Reported
    * per window: doc count, tokens, total/intra/cross pairs, and
    * cross-leakage ppm — the table that decides whether the masking
    * kernel is worth its cost at a given capacity.
    *
    * All arithmetic is integer (pair counts are exact triangular
    * numbers; one trailing DIV for the ppm — the established
    * per-term-truncation discipline).
    *
    * Scale shape: one window-grain map-side-combined aggregate over
    * the q305 assignment frame; every pair count is row-local
    * arithmetic. Nothing here touches text.
    */
  def packingAttentionAudit(spark: SparkSession, sfDir: String): DataFrame =
    packedAssignments(spark, sfDir)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("item")).cast("long").as("tokens"),
        sum(expr("item * (item - 1) DIV 2")).cast("long")
          .as("intra_pairs"))
      .select(col("window_id"), col("n_docs"), col("tokens"),
        expr("tokens * (tokens - 1) DIV 2").as("total_pairs"),
        col("intra_pairs"),
        expr("tokens * (tokens - 1) DIV 2 - intra_pairs")
          .as("cross_pairs"),
        expr("""CASE WHEN tokens > 1 THEN
            (tokens * (tokens - 1) DIV 2 - intra_pairs) * 1000000
              DIV (tokens * (tokens - 1) DIV 2) END""")
          .as("cross_ppm"))

  /** The q336 driver entry: EPOCH WATER-FILLING under a token budget —
    * the data-constrained allocation question of Muennighoff et al.
    * 2023 ("Scaling Data-Constrained Language Models"): a training run
    * has 2 × the corpus's tokens to spend, each (source, lang)
    * cell may be repeated at most 4 times before repetition
    * stops helping, and the allocator wants the MAX-MIN FAIR fill —
    * every cell gets the same water level L of tokens except cells
    * whose epoch cap is below the level, which saturate at the cap
    * (q230's Hamilton apportionment is the PROPORTIONAL law; this is
    * the complementary max-min law with caps).
    *
    * Exact integer construction, no floats anywhere: sort the bounded
    * cell domain by cap ascending (ties broken by (source, lang), a
    * total order); with caps c₍₁..ₘ₎ and prefix sums P, cell k
    * saturates iff P₍ₖ₋₁₎ + c₍ₖ₎·(m−k+1) ≤ B — monotone in k because
    * f(k+1) − f(k) = (c₍ₖ₊₁₎ − c₍ₖ₎)(m−k) ≥ 0, so the saturated set is
    * a prefix and k* is a COUNT. Unsaturated cells split the remaining
    * budget rem = B − P₍ₖ*₎ as rem DIV u tokens each, with the
    * rem MOD u leftover tokens handed one each to the u' lowest-ranked
    * unsaturated cells — allocations sum to B exactly and any two
    * unsaturated cells differ by at most one token. `epochs_ppm` is
    * the resulting repeat factor (alloc·10⁶ DIV avail).
    *
    * Scale shape: one map-side-combined (source, lang) token
    * aggregate is the only fact-scale exchange (the tokenizer count is
    * row-local); everything after lives on the bounded cell domain
    * (sources × langs), where the global sort window is over m ≈ 100
    * rows — the q277 bounded-domain window discipline, not a
    * data-scale cliff. At 100 TB the cell aggregate is the same one
    * exchange; the allocator itself never grows.
    */
  def epochWaterfill(spark: SparkSession, sfDir: String): DataFrame =
    waterfillOn(Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("lang"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.bpeTokenPattern), lit(0)))
          .cast("long").as("ntok"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("ntok")).cast("long").as("avail_tokens")))

  /** The q336 allocator core over any `(source, lang, avail_tokens)`
    * cell frame — split out so q359 can run the SAME max-min law
    * over soft-dedup-effective token counts.
    */
  def waterfillOn(cells: DataFrame): DataFrame = {
    val dom = cells
      .withColumn("cap_tokens", col("avail_tokens") * 4)
    val tot = dom.agg(
      (sum(col("avail_tokens")) * 2).cast("long").as("b"),
      count(lit(1)).cast("long").as("m"))
    val w = Window
      .orderBy(col("cap_tokens").asc, col("source").asc, col("lang").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = dom.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("pref", sum(col("cap_tokens")).over(w).cast("long"))
    // saturation indicator per rank; the set is a prefix (see doc), so
    // k* is the SUM of indicators and P(k*) the SUM of saturated caps
    val satCond = col("pref") - col("cap_tokens") +
      col("cap_tokens") * (col("m") - col("rk") + lit(1L)) <= col("b")
    val level = ranked.agg(
      sum(when(satCond, 1L).otherwise(0L)).cast("long").as("k"),
      sum(when(satCond, col("cap_tokens")).otherwise(0L)).cast("long")
        .as("prefk"),
      max(col("b")).as("b2"), max(col("m")).as("m2"))
    ranked.crossJoin(broadcast(level))
      .select(col("source"), col("lang"), col("avail_tokens"),
        col("cap_tokens"),
        when(col("rk") <= col("k"), col("cap_tokens"))
          .otherwise(expr("""(b2 - prefk) DIV (m2 - k) +
              CASE WHEN rk - k <= (b2 - prefk) % (m2 - k)
                THEN 1 ELSE 0 END"""))
          .cast("long").as("alloc_tokens"),
        (col("rk") <= col("k")).as("saturated"))
      .withColumn("epochs_ppm",
        expr("alloc_tokens * 1000000 DIV avail_tokens"))
  }

  private val moeExperts = 8

  /** The q344 driver entry: MIXTURE-OF-EXPERTS ROUTING AUDIT — the
    * load-balance / token-drop accounting every MoE training run
    * watches (Shazeer 2017's aux loss, Switch Transformer's capacity
    * factor): route each document's tokens to E=8 experts by CONTENT
    * hash (md5 of the token mod E — the deterministic stand-in for a
    * learned router, so identical tokens land on identical experts
    * and the whole audit replays cross-engine), cap each expert's
    * intake PER DOCUMENT at capacity = ⌈1.25·T/E⌉ = (5·T + 4·E − 1)
    * DIV (4·E) (the Switch capacity-factor rule, exact ceiling
    * arithmetic), and drop overflow tokens in POSITION order — late
    * tokens drop first, as a capacity-bound router does. Per expert:
    * routed/kept/dropped counts, `drop_ppm`, `load_ppm` (share of
    * all tokens), and the corpus-level balance statistic
    * `balance_x_e6` = E·Σ f_e²·10⁶ — the counts-squared form of the
    * aux load-balance loss, exactly 10⁶ under perfect balance and
    * E·10⁶ under total collapse (sums accumulate in DECIMAL(38,0)
    * before the single trailing DIV by total²).
    *
    * Scale shape: the token explode is fact-scale but row-local; the
    * per-(doc, expert) arrival-rank window partitions on the
    * high-cardinality (doc, expert) key, so it shuffles once and
    * never serializes; everything after lives on the bounded
    * 8-expert domain. Media never moves — only (digest-routed token
    * position, expert) pairs.
    */
  def moeRoutingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(col("text"),
          lit(TextAnalysis.bpeTokenPattern), lit(0)).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("ntok"),
        posexplode(col("ts")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("ntok"), col("pos").cast("long").as("pos"),
        expr(s"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) " +
          s"% $moeExperts").as("expert"))
      .withColumn("cap",
        expr(s"(5 * ntok + ${4 * moeExperts - 1}) DIV ${4 * moeExperts}"))
    val w = Window.partitionBy(col("doc_id"), col("expert"))
      .orderBy(col("pos").asc)
    val routed = toks
      .withColumn("erk", row_number().over(w).cast("long"))
      .groupBy(col("expert"))
      .agg(count(lit(1)).cast("long").as("routed"),
        sum(when(col("erk") <= col("cap"), 1L).otherwise(0L)).cast("long")
          .as("kept"))
      .withColumn("dropped", (col("routed") - col("kept")).cast("long"))
    val tot = routed.agg(
      sum(col("routed")).cast("long").as("total"),
      expr(s"""CAST($moeExperts * SUM(CAST(routed AS DECIMAL(38, 0)) * routed)
          * 1000000 DIV (SUM(routed) * SUM(routed)) AS BIGINT)""")
        .as("balance_x_e6"))
    routed.crossJoin(broadcast(tot))
      .select(col("expert"), col("routed"), col("kept"), col("dropped"),
        expr("dropped * 1000000 DIV routed").as("drop_ppm"),
        expr("routed * 1000000 DIV total").as("load_ppm"),
        col("balance_x_e6"))
  }

  /** The q348 driver entry: SHUFFLE-QUALITY RUNS TEST — the
    * Wald–Wolfowitz audit of q257's epoch order: a good global
    * shuffle leaves no source-level clumping, and the detector is
    * the RUNS COUNT (maximal blocks of consecutive same-source docs)
    * against its exact permutation expectation E[R] = n + 1 − Σnₛ²/n.
    * Clumping (a broken shuffle, a sorted-by-source export leaking
    * through) drives R far BELOW E; the signed `excess_ppm` =
    * (R·n − (n(n+1) − Σnₛ²))·10⁶ DIV (n(n+1) − Σnₛ²) reads ≈ 0 for
    * a true shuffle. The order IS q257's epoch-0 key (salted md5,
    * doc_id tiebreak) — auditing the exact permutation the trainer
    * would consume. Valid to n = 10⁶ docs per the q278
    * documented-bound rule (past that the ·10⁶ products need
    * DECIMAL on both sides).
    *
    * Scale shape: the global-order LAG is built WITHOUT a
    * partition-less window — `Relational.chunkedRowNumber` (hash-hex
    * prefix buckets, an order prefix by lowercase-hex collation)
    * assigns the global rank, and the predecessor arrives by a
    * co-keyed rk = rk+1 self-join (one shuffle, keyed, no
    * serialization point); run heads then collapse map-side to the
    * bounded source domain. Both chunked passes read a pinned
    * input (the documented double-read rule).
    */
  def shuffleRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val ordered = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("pri",
        md5(concat(lit("ep0:"), col("doc_id").cast("string"))))
      .localCheckpoint(true) // chunkedRowNumber reads its input twice
    val rk = Relational.chunkedRowNumber(ordered,
        bucket = expr("CAST(conv(substring(pri, 1, 3), 16, 10) AS BIGINT)"),
        order = Seq(col("pri").asc, col("doc_id").asc), out = "rk")
      .select(col("rk"), col("source"))
      .localCheckpoint(true) // read by both sides of the lag join
    val flags = rk.join(rk.select((col("rk") + 1L).as("rk"),
        col("source").as("prev_src")), Seq("rk"), "left")
      .select(col("source"),
        when(col("prev_src").isNull ||
          col("source") =!= col("prev_src"), 1L).otherwise(0L)
          .as("run_start"))
    val perSource = flags.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_s"),
        sum(col("run_start")).cast("long").as("runs_s"))
    val glob = perSource.agg(sum(col("n_s")).cast("long").as("n"),
      sum(col("runs_s")).cast("long").as("r_obs"),
      sum(col("n_s") * col("n_s")).cast("long").as("sum_sq"))
    perSource.crossJoin(broadcast(glob))
      .select(col("source"), col("n_s"), col("runs_s"), col("n"),
        col("r_obs"),
        expr("(n * (n + 1) - sum_sq) * 1000 DIV n").as("e_milli"),
        expr("""(r_obs * n - (n * (n + 1) - sum_sq)) * 1000000
            DIV (n * (n + 1) - sum_sq)""").as("excess_ppm"))
  }

  /** The q354 driver entry: NEEDLE-PLACEMENT EVAL MANIFEST — the
    * byte-exact insertion plan behind a needle-in-a-haystack
    * long-context eval (Kamradt's NIAH grid, the Gemini/Claude
    * long-context ablations): for each document and each depth
    * fraction d ∈ {10, 50, 90}%, the GLOBAL byte offset in q312's
    * single-stream export where the needle is spliced — global,
    * because the eval harness seeks into the flat export, not into
    * per-doc files. In-doc position = (n_bytes·d) DIV 100 (exact
    * floor, 0 ≤ pos ≤ n_bytes), global = start_offset + pos. The
    * manifest composes q312's chunked global prefix sum — the same
    * scale device, consumed rather than re-derived.
    *
    * Scale shape: q312's one scan + bounded bucket-domain triangular
    * join + bucket-partitioned window, then a 3-way row-local
    * explode; everything after the prefix sum is arithmetic.
    */
  /** The q358 driver entry: CONTEXT-TRUNCATION LOSS CURVE — the
    * complement of q226's padding waste: padding wastes compute on
    * SHORT docs, truncation loses CONTENT on LONG ones, and the
    * context-length decision trades the two. Per source and per
    * candidate context length L ∈ {128, 512, 2048} tokens: documents
    * over the limit, tokens lost Σ max(0, ntok − L), and `lost_ppm`
    * of the source's token mass — the table a context-length
    * ablation reads before committing a packing config.
    *
    * Scale shape: ONE row-local tokenizer count collapses to the
    * (source) grain with per-L conditional sums in the same
    * aggregate; the L arms union on the bounded source domain.
    */
  def truncationLoss(
      spark: SparkSession, sfDir: String,
      ls: Seq[Int] = Seq(128, 512, 2048)): DataFrame = {
    val aggs = Seq(count(lit(1)).cast("long").as("n_docs"),
      sum(col("ntok")).cast("long").as("tokens_total")) ++
      ls.flatMap(l => Seq(
        sum(when(col("ntok") > l, 1L).otherwise(0L)).cast("long")
          .as(s"over_$l"),
        sum(when(col("ntok") > l, col("ntok") - l).otherwise(0L))
          .cast("long").as(s"lost_$l")))
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        TextAnalysis.bpeTokenCount(col("text")).as("ntok"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
    ls.map { l =>
      base.select(col("source"), lit(l.toLong).as("ctx_len"),
        col("n_docs"), col("tokens_total"),
        col(s"over_$l").as("docs_truncated"),
        col(s"lost_$l").as("tokens_lost"),
        expr(s"lost_$l * 1000000 DIV tokens_total").as("lost_ppm"))
    }.reduce(_ unionByName _)
  }

  /** The q359 driver entry: EFFECTIVE-TOKEN WATER-FILLING — the q336
    * allocator composed with q297's soft-dedup weights: a cell full
    * of near-duplicates has fewer EFFECTIVE tokens than raw tokens
    * (each near-dup cluster contributes ~one document of loss mass),
    * so the data-constrained allocation should fill against
    * Σ ntok·w DIV 10⁶ per doc (per-term truncation, order-free)
    * rather than raw counts — otherwise duplicate-heavy cells soak
    * budget that buys repeated gradients. Same exact max-min law,
    * same saturated-prefix COUNT device, different (honest) supply
    * curve. Output adds `raw_tokens` beside `avail_tokens` so the
    * dedup haircut per cell is visible.
    *
    * Scale shape: q297's banded-LSH components + one doc-grain
    * weight join + the q336 cell aggregate; the allocator itself is
    * unchanged (bounded cell domain).
    */
  def effectiveWaterfill(spark: SparkSession, sfDir: String): DataFrame = {
    val weights = graft.operators.Dedup.softDedupWeights(spark, sfDir)
      .select(col("doc_id"), col("weight_micro"))
    val cells = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.bpeTokenCount(col("text")).as("ntok"))
      .join(weights, "doc_id")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("ntok")).cast("long").as("raw_tokens"),
        sum(expr("ntok * weight_micro DIV 1000000")).cast("long")
          .as("avail_tokens"))
      // a cell whose effective supply truncates to zero has nothing
      // to allocate (and would 0-divide epochs_ppm) — drop it
      .where(col("avail_tokens") >= 1L)
    waterfillOn(cells.select(col("source"), col("lang"),
        col("avail_tokens")))
      .join(cells.select(col("source"), col("lang"), col("raw_tokens")),
        Seq("source", "lang"))
  }

  def needleManifest(spark: SparkSession, sfDir: String): DataFrame = {
    exportOffsets(spark, sfDir)
      .select(col("doc_id"), col("n_bytes"), col("start_offset"),
        explode(lit(Array(10L, 50L, 90L))).as("depth_pct"))
      .withColumn("doc_pos",
        expr("n_bytes * depth_pct DIV 100"))
      .withColumn("insert_at",
        (col("start_offset") + col("doc_pos")).cast("long"))
  }

  /** The q362 driver entry: SFT UNROLLING-COST AUDIT — the
    * quadratic-context accounting behind the "pack multi-turn chats,
    * don't unroll them" rule: unrolling a conversation of turns
    * t₁…tₙ into one training sample per assistant turn reprocesses
    * every prefix (sample at position p costs Σ|t₁..tₚ| tokens), so
    * unrolled token mass = Σ_{assistant p} prefix(p) — up to
    * n_samples× the packed mass of training the conversation ONCE
    * with a loss mask on user turns. Per conversation (q33's
    * gap-sessionized event stream; roles alternate user/assistant
    * by turn parity, per-turn token proxy = the `k` payload field):
    * turn/sample counts, packed vs trained vs unrolled token mass,
    * and the overhead in ppm of packed. Laws (spec-pinned):
    * trained ≤ packed, trained ≤ unrolled ≤ n_samples·packed, and
    * a 2-turn conversation unrolls to exactly its packed mass.
    *
    * Scale shape: two user-keyed windows (session index, then
    * position/prefix within conversation) and one aggregate, all on
    * the SAME user-anchored key — a single exchange reused three
    * times (q87's posture); per-user state is bounded by that
    * user's history, never corpus-wide.
    */
  def sftUnrollCost(spark: SparkSession, sfDir: String): DataFrame =
    sftUnrollCostOn(Tables.load(spark, sfDir, "events"))

  /** The q362 core over any events-shaped frame `(user_id, ts,
    * event_id, props)` — split out so the spec can hand-build a
    * conversation with known prefix sums through the SAME plan.
    */
  def sftUnrollCostOn(events: DataFrame): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val running = order.rowsBetween(Window.unboundedPreceding, 0)
    val turns = events
      .select(col("user_id"), col("ts"), col("event_id"),
        coalesce(get_json_object(col("props"), "$.k").cast("long"),
          lit(0L)).as("tok"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_sess")).over(running))
    val conv = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val convRun = conv.rowsBetween(Window.unboundedPreceding, 0)
    turns
      .withColumn("pos", row_number().over(conv).cast("long"))
      .withColumn("prefix_tok", sum(col("tok")).over(convRun).cast("long"))
      .withColumn("is_target", col("pos") % 2L === 0L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).cast("long").as("n_turns"),
        sum(when(col("is_target"), 1L).otherwise(0L)).cast("long")
          .as("n_samples"),
        sum(col("tok")).cast("long").as("packed_tokens"),
        sum(when(col("is_target"), col("tok")).otherwise(0L)).cast("long")
          .as("trained_tokens"),
        sum(when(col("is_target"), col("prefix_tok")).otherwise(0L))
          .cast("long").as("unrolled_tokens"))
      .where(col("n_samples") >= 1L && col("packed_tokens") >= 1L)
      .withColumn("overhead_ppm",
        expr("unrolled_tokens * 1000000 DIV packed_tokens"))
      .withColumn("trained_ppm",
        expr("trained_tokens * 1000000 DIV packed_tokens"))
  }

  /** The q363 driver entry: MERKLE SHARD MANIFEST — the
    * content-integrity tree a reproducible corpus release publishes
    * beside q312's offset index and q315's datasheet: leaf = md5 of
    * each doc's normalized text (the exact-dedup key, q-fingerprint
    * convention), shard digest = md5 of the doc-id-ordered
    * concatenation of its leaves (shard = doc_id DIV 64,
    * the key-range layout of q310), root = md5 of the
    * shard-id-ordered concatenation of shard digests. The tree is
    * what makes re-verification INCREMENTAL: a consumer re-hashes
    * only the shard whose bytes changed and checks it against the
    * root — the spec's tamper tripwire pins that editing one doc
    * moves exactly its own shard's digest (and the root) and no
    * other's. One row per shard, root columns attached to every row.
    *
    * Scale shape: per-shard state is bounded by the constant shard
    * size (collect_list inside a shard-keyed aggregate — never
    * corpus-wide); the root folds the shard-digest table, which is
    * n_docs/64 rows. At 100 TB the two-level tree generalizes
    * to k levels by re-applying the same shard fold on shard ids —
    * each level shrinks the table by the fan-out, exactly a
    * treeAggregate (q06's device) over digests.
    */
  def merkleManifest(spark: SparkSession, sfDir: String): DataFrame =
    merkleManifestOn(Tables.load(spark, sfDir, "documents"))

  /** The q364 driver entry: LENGTH-HISTOGRAM TRANSPORT PLAN — the
    * 1D optimal-transport move plan that takes the corpus's length
    * distribution to a target shape (uniform over the observed
    * buckets, Hamilton-rounded — q302's quota device): on an ORDERED
    * domain the optimal plan is unique and closed-form, flow across
    * the boundary right of bucket b = Σ_{i≤b}(current_i − target_i)
    * (positive = mass moves up-bucket), and total work Σ|flow| is
    * the exact minimum unit-moves — the number every
    * rebalance-by-truncation/padding/resampling job quotes before
    * deciding the rebalance is worth it. q355 prices the DISTANCE
    * (t-closeness EMD); this emits the PLAN. Conservation laws
    * spec-pinned: Σtarget = Σcurrent and the last boundary's flow is
    * exactly zero.
    *
    * Scale shape: one fact-scale bucket count; the rank window,
    * prefix sum, and work fold all live on the bounded bucket
    * domain (max n_chars DIV bucketChars rows — the partition-less
    * windows here order ~10 rows, never the corpus).
    */
  def lengthTransportPlan(spark: SparkSession, sfDir: String): DataFrame =
    lengthTransportPlanOn(Tables.load(spark, sfDir, "documents"))

  /** The q364 core over any frame with an `n_chars` column. */
  def lengthTransportPlanOn(docs: DataFrame): DataFrame = {
    val cur = docs
      .select(expr("n_chars DIV 64").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("current"))
    val tot = cur.agg(sum(col("current")).cast("long").as("n"),
      count(lit(1)).cast("long").as("m"))
    val wAsc = Window.orderBy(col("bucket").asc)
    val planned = cur.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(wAsc).cast("long"))
      .withColumn("target",
        expr("n DIV m + CASE WHEN rk <= n % m THEN 1 ELSE 0 END")
          .cast("long"))
      .withColumn("cum_flow",
        sum(col("current") - col("target"))
          .over(wAsc.rowsBetween(Window.unboundedPreceding, 0))
          .cast("long"))
      .select(col("bucket"), col("current"), col("target"), col("cum_flow"))
    val work = planned
      .agg(sum(abs(col("cum_flow"))).cast("long").as("total_work"))
    planned.crossJoin(broadcast(work))
  }

  /** The q367 driver entry: TAKEDOWN IMPACT MANIFEST — the
    * compliance question every licensed corpus answers under a
    * robots/opt-out/GDPR takedown: when these sources leave, which
    * SHARDS are touched (and must re-hash under q363's Merkle tree,
    * re-pack under q312's offsets) and which are untouched — the
    * whole point of key-range sharding is that a takedown's blast
    * radius is enumerable, not "re-export everything". Opt-out set
    * = the 2 lexicographically-first sources (deterministic
    * stand-in for the legal list, derived in-plan so the oracle
    * shares it). Per shard (q363's doc_id DIV 64 layout):
    * doc/token counts, removed doc/token counts, the touched flag;
    * global columns: shards touched and the corpus-wide removed
    * token share in ppm.
    *
    * Scale shape: the opt-out dimension is bounded (sources) and
    * broadcast; one shard-keyed aggregate over the fact scan; the
    * global fold runs on the n/64-row shard table.
    */
  def takedownImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val opt = docs.select(col("source")).distinct()
      .withColumn("srk",
        row_number().over(Window.orderBy(col("source").asc)).cast("long"))
      .where(col("srk") <= 2L)
      .select(col("source"), lit(true).as("opt_out"))
    val shards = docs
      .select(expr("doc_id DIV 64").as("shard_id"), col("source"),
        TextAnalysis.bpeTokenCount(col("text")).as("ntok"))
      .join(broadcast(opt), Seq("source"), "left")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ntok")).cast("long").as("tokens_total"),
        sum(when(col("opt_out"), 1L).otherwise(0L)).cast("long")
          .as("docs_removed"),
        sum(when(col("opt_out"), col("ntok")).otherwise(0L)).cast("long")
          .as("tokens_removed"))
      .withColumn("touched", col("docs_removed") >= 1L)
    val glob = shards.agg(
      sum(when(col("touched"), 1L).otherwise(0L)).cast("long")
        .as("n_shards_touched"),
      expr("CAST(SUM(tokens_removed) * 1000000 DIV SUM(tokens_total) AS BIGINT)")
        .as("removed_ppm"))
    shards.crossJoin(broadcast(glob))
  }

  /** The q393 driver entry: EPOCH-SHUFFLE INDEPENDENCE AUDIT — the
    * between-epoch complement to q348's within-epoch runs test: a
    * broken shuffle seed that silently reuses one permutation across
    * epochs (the classic data-loader bug — the model sees batches in
    * the identical order every epoch) shows up here as
    * fixed_points = n between consecutive epochs, while independent
    * permutations read ≈ 1 (the derangement law: a uniform random
    * permutation has exactly ONE expected fixed point, at any n).
    * Per consecutive epoch pair of q257's md5 orders: doc count,
    * fixed points, total and max absolute position displacement —
    * the dashboard row that distinguishes "reshuffled" from
    * "replayed" at a glance.
    *
    * Scale shape: q257's per-epoch rank window (the q78
    * range-partition device at 100 TB), a doc-keyed self-join of
    * adjacent epochs, one epoch-domain aggregate.
    */
  def epochFixedPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"))
      .orderBy(col("pri").asc, col("doc_id").asc)
    val pos = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(3L))).as("epoch"))
      .withColumn("pri", md5(concat(lit("ep"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("epoch"), col("pos"))
    pos
      .join(pos.select(col("doc_id"), (col("epoch") - 1L).as("epoch"),
        col("pos").as("pos_next")), Seq("doc_id", "epoch"))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("pos") === col("pos_next"), 1L).otherwise(0L))
          .cast("long").as("fixed_points"),
        sum(abs(col("pos") - col("pos_next"))).cast("long")
          .as("sum_abs_disp"),
        max(abs(col("pos") - col("pos_next"))).cast("long").as("max_disp"))
      .withColumn("mean_disp_milli",
        expr("sum_abs_disp * 1000 DIV n_docs"))
  }

  private val sampleGrid = 1024L

  /** The q384 driver entry: MASS-PROPORTIONAL SYSTEMATIC SAMPLE —
    * the deterministic "sample documents proportional to their byte
    * mass" draw an eval-subset builder wants (uniform-by-doc
    * oversamples short docs relative to the token mass the model
    * actually trains on): lay a fixed grid of positions
    * p_j = φ + j·B over q312's single-stream export and take the
    * document containing each grid point — a doc's hit count is
    * exactly the number of grid points in [start, end), so
    * E[hits] ∝ bytes with zero variance beyond rounding (systematic
    * sampling), no RNG, no weights arithmetic, replayed bit-exactly
    * by the oracle. Per hit: sample index, stream position, the
    * doc, its byte span, and its total hit count (a doc longer than
    * B appears multiple times — by design; that IS
    * mass-proportionality).
    *
    * Scale shape: q312's chunked prefix sum provides offsets; hit
    * counts and positions are closed-form row-local arithmetic
    * (count = pointsBelow(end) − pointsBelow(start)) — no join, no
    * shuffle beyond the offsets themselves.
    */
  def systematicSample(spark: SparkSession, sfDir: String): DataFrame = {
    val phi = sampleGrid / 2L
    // grid points below x: none at or above x; zero when x <= phi
    def below(x: String): String =
      s"CASE WHEN $x <= ${phi}L THEN 0L " +
        s"ELSE ($x - ${phi}L + ${sampleGrid - 1}L) DIV ${sampleGrid}L END"
    exportOffsets(spark, sfDir)
      .withColumn("j0", expr(below("start_offset")))
      .withColumn("n_hits",
        expr(below("end_offset")) - col("j0"))
      .where(col("n_hits") >= 1L)
      .withColumn("sample_idx",
        explode(expr("sequence(j0, j0 + n_hits - 1L)")))
      .select(col("sample_idx").cast("long").as("sample_idx"),
        (lit(phi) + col("sample_idx") * sampleGrid).cast("long").as("position"),
        col("doc_id"), col("start_offset"), col("n_bytes"),
        col("n_hits").cast("long").as("n_hits"))
  }

  /** The q383 driver entry: PACKING-POLICY COMPARISON — the number
    * behind the "may we split documents across windows?" debate:
    * q305's FFD packs whole documents (no split — attention never
    * crosses a document boundary, q335's invariant), while a
    * split-allowed packer fills every window exactly (bins =
    * ⌈Σitems/capacity⌉ — the bin-packing lower bound, achieved when
    * splitting is free). The gap between the two IS the price of
    * document integrity: bins, utilization ppm for both policies,
    * and the FFD overhead in ppm of the lower bound. Consumes
    * q305's EXACT fold (`packedAssignments` — the same first-fit
    * recurrence the q305 oracle replays recursively), so this row
    * can never drift from the packing it audits.
    *
    * Scale shape: one aggregate over the q305 assignment frame;
    * everything after is single-row arithmetic.
    */
  def packingPolicyCompare(spark: SparkSession, sfDir: String): DataFrame =
    packedAssignments(spark, sfDir)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("item")).cast("long").as("total_items"),
        countDistinct(col("window_id")).cast("long").as("bins_ffd"))
      .withColumn("capacity", lit(packCapacity.toLong))
      .withColumn("bins_lb",
        expr(s"(total_items + ${packCapacity - 1}L) DIV ${packCapacity}L"))
      .withColumn("ffd_util_ppm",
        expr(s"total_items * 1000000 DIV (bins_ffd * ${packCapacity}L)"))
      .withColumn("lb_util_ppm",
        expr(s"total_items * 1000000 DIV (bins_lb * ${packCapacity}L)"))
      .withColumn("overhead_ppm",
        expr("(bins_ffd - bins_lb) * 1000000 DIV bins_lb"))
      .select(col("capacity"), col("n_docs"), col("total_items"),
        col("bins_ffd"), col("bins_lb"), col("ffd_util_ppm"),
        col("lb_util_ppm"), col("overhead_ppm"))

  /** The q377 driver entry: STRIDE-EFFICIENCY AUDIT — the overlap
    * bill for q306's sliding-window chunking: every overlapped token
    * is RE-ENCODED (and re-embedded, re-indexed, re-stored) once per
    * extra chunk it lands in, so per source this reports the encoded
    * token mass vs the raw mass (waste_ppm — the compute/storage
    * overhead the stride choice buys), plus the runt census: non-
    * first chunks shorter than win/2 (a short FIRST chunk is just a
    * short document; a short LAST chunk is stride-geometry debris
    * that pollutes training batches and retrieval indexes). The
    * win/stride knob is priced by exactly these two columns.
    *
    * Scale shape: q306's plan (row-local chunk fan-out) collapsed by
    * one doc-grain aggregate re-keyed once onto the bounded source
    * domain — no new shuffle beyond the census itself.
    */
  def strideEfficiency(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = slidingChunks(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("n_tokens"),
        max(col("n_chunks")).cast("long").as("n_chunks"),
        sum(col("len_tok")).cast("long").as("encoded_tokens"),
        sum(when(col("chunk_idx") > 0L &&
          col("len_tok") < (chunkWin / 2).toLong, 1L).otherwise(0L))
          .cast("long").as("runt_chunks"))
    perDoc
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("raw_tokens"),
        sum(col("encoded_tokens")).cast("long").as("encoded_tokens"),
        sum(col("n_chunks")).cast("long").as("n_chunks"),
        sum(col("runt_chunks")).cast("long").as("runt_chunks"))
      .withColumn("waste_ppm",
        expr("(encoded_tokens - raw_tokens) * 1000000 DIV raw_tokens"))
      .withColumn("runt_ppm",
        expr("runt_chunks * 1000000 DIV n_chunks"))
  }

  /** The q371 driver entry: CONTRASTIVE NEGATIVE-SAMPLING MANIFEST —
    * the deterministic negatives table an embedding-training job
    * materializes beside q303's cluster-disjoint batches: for each
    * anchor doc, k pseudo-random negatives drawn by md5-derived
    * offsets over the contiguous id domain (offset ∈ [1, n−1] ⇒
    * never the anchor itself — collision-free by construction, no
    * rejection loop), then CROSS-SOURCE filtered (a same-feed
    * "negative" is too often boilerplate or a near-dup — a false
    * negative that actively hurts the contrastive objective). Each
    * anchor emits m > k candidates and keeps the first k surviving
    * the source filter in candidate order; `n_kept` reports anchors
    * left short (never silently padded). Determinism = the whole
    * manifest is reproducible from the corpus alone — the q23/q31
    * md5 portability device, so the oracle replays the exact draw.
    *
    * Scale shape: explode ×m (constant), one id-keyed join to pull
    * negative metadata, one anchor-keyed rank window — all linear;
    * the id-domain guard (`require` max id = n−1) fails loudly if
    * the corpus isn't contiguously keyed rather than skewing draws.
    */
  def negativeSamples(spark: SparkSession, sfDir: String): DataFrame =
    negativeSamplesOn(Tables.load(spark, sfDir, "documents"))

  /** The q371 core over any `(doc_id, source)` frame — split out so
    * the spec can drive a tiny corpus where the cross-source filter
    * genuinely leaves anchors short of k.
    */
  def negativeSamplesOn(frame: DataFrame): DataFrame = {
    val docs = frame.select(col("doc_id"), col("source"))
    val bounds = docs.agg(count(lit(1)).cast("long").as("n"),
      max(col("doc_id")).cast("long").as("mx")).head()
    val n = bounds.getLong(0)
    require(n == 0L || (n >= 2L && bounds.getLong(1) == n - 1L),
      "negative sampling assumes >= 2 contiguous doc ids [0, n)")
    val cand = docs
      .select(col("doc_id").as("anchor_id"), col("source").as("anchor_src"),
        explode(array((1 to 8).map(lit): _*)).as("j"))
      .withColumn("off",
        conv(substring(md5(concat(lit("neg:"),
          col("anchor_id").cast("string"), lit(":"),
          col("j").cast("string"))), 1, 15), 16, 10).cast("long")
          % lit(n - 1L) + 1L)
      .withColumn("neg_id",
        pmod(col("anchor_id") + col("off"), lit(n)).cast("long"))
    val negs = cand
      .join(docs.select(col("doc_id").as("neg_id"),
        col("source").as("neg_src")), Seq("neg_id"))
      .where(col("neg_src") =!= col("anchor_src"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id")).orderBy(col("j").asc))
        .cast("long"))
      .where(col("rank") <= 4L)
      .select(col("anchor_id"), col("rank"), col("neg_id"), col("neg_src"))
    val kept = negs.groupBy(col("anchor_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"))
    negs.join(kept, Seq("anchor_id"))
  }

  /** The q363 core over any `(doc_id, text)` frame. */
  def merkleManifestOn(docs: DataFrame): DataFrame = {
    val shards = docs
      .select(expr("doc_id DIV 64").as("shard_id"), col("doc_id"),
        md5(TextAnalysis.normalizedText(col("text"))).as("leaf"),
        length(col("text")).cast("long").as("nch"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nch")).cast("long").as("n_chars"),
        array_sort(collect_list(struct(col("doc_id").as("d"),
          col("leaf").as("l")))).as("ls"))
      .withColumn("shard_digest",
        md5(expr("array_join(transform(ls, x -> x.l), '')")))
      .drop("ls")
    val root = shards
      .groupBy()
      .agg(count(lit(1)).cast("long").as("n_shards"),
        array_sort(collect_list(struct(col("shard_id").as("s"),
          col("shard_digest").as("g")))).as("gs"))
      .select(col("n_shards"),
        md5(expr("array_join(transform(gs, x -> x.g), '')")).as("root_digest"))
    shards.crossJoin(broadcast(root))
  }
}
