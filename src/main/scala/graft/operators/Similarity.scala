package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two paths:
  *  - [[annBrute]]: exact brute-force cosine top-k — the correctness
  *    baseline. O(Q·N); at 100 TB it is only viable when Q (the query
  *    set) is small enough to broadcast, which is exactly how it is
  *    written: broadcast(queries) x scan(corpus), no shuffle of the
  *    corpus side, then per-query top-k via window rank over the
  *    (small) scored set.
  *  - [[annLsh]]: random-hyperplane LSH (sign bits of projections onto
  *    deterministic pseudo-random hyperplanes) buckets the corpus; at
  *    scale only same-bucket candidates are scored. Recall is tested
  *    against the brute baseline in SimilaritySpec.
  */
object Similarity {

  /** Queries = the first `numQueries` vectors (lowest vec_id). */
  def queries(spark: SparkSession, sfDir: String, numQueries: Int): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .orderBy(col("vec_id")).limit(numQueries)
      .select(col("vec_id").as("q_id"),
        Vectors.l2normalize(col("embedding")).as("q"))

  /** `(vec_id, u)` with `u` the unit embedding: the corpus every ANN
    * path scores, the Spark twin of the oracle's `normalizedVectors`.
    */
  private def unitCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), Vectors.l2normalize(col("embedding")).as("u"))

  /** `(vec_id, label, v)` with `v` the unit embedding: the input of
    * q168, q169, q322 and q323.
    */
  private def labeledUnits(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        Vectors.l2normalize(col("embedding")).as("v"))

  /** Exact cosine of every candidate `(q_id, vec_id)` pair carrying its
    * unit vectors `q` and `u`, top `k` per query by (cosine desc,
    * vec_id asc): the serve tail of q30/q31/q32/q153/q163, the Spark
    * twin of the oracle's `cosineTop10Sql`.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("q_id"), col("vec_id"),
      Vectors.dot(col("q"), col("u")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rk"))
  }

  /** Exact top-k neighbors per query by cosine (self excluded).
    * Deterministic: ties broken by vec_id.
    */
  def annBrute(
      spark: SparkSession, sfDir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = unitCorpus(spark, sfDir)
    cosineTopK(corpus
      .join(broadcast(queries(spark, sfDir, numQueries)),
        col("vec_id") =!= col("q_id")), k)
  }

  /** Number of hyperplanes: 8 tables x 4 bits (multi-table LSH — a
    * pair is a candidate if ANY table's 4-bit code matches; more
    * tables = higher recall at higher candidate cost).
    */
  val lshBits = 32
  val lshTables = 8
  val lshBitsPerTable: Int = lshBits / lshTables

  /** LSH code for a vector column: bit p = sign(v · plane_p), planes
    * derived deterministically (graft.functions.VectorExpressions.
    * HyperplaneBucket — one pass over the vector; the expression-tree
    * formulation was numPlanes x dim element_at nodes).
    */
  def lshBucket(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorExpressions.lsh_bucket(v, lshBits)

  /** ANN via multi-table LSH: score only corpus vectors sharing at
    * least one table's full code with the query. On near-random data
    * (the fixture: top-10 neighbor cosine only ~0.3) recall is
    * fundamentally bounded; in the high-similarity regime the method
    * targets (near-dup retrieval, cosine >= 0.9) recall approaches 1 —
    * SimilaritySpec tests both.
    *
    * SIZE THE BITS TO THE CORPUS (same rule as
    * Dedup.embeddingPairsLsh): candidates per query ≈
    * numTables × n / 2^bits; the 4-bit default suits fixture-scale
    * recall demos — at 10⁹ vectors use ~20+ bits and re-derive the
    * table count from the recall target.
    */
  def annLsh(
      spark: SparkSession, sfDir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    import graft.functions.VectorExpressions.lsh_bucket
    def chunked(df: DataFrame, vcol: String, idCols: Seq[String]): DataFrame =
      df.select(idCols.map(col) ++ Seq(col(vcol)) :+
          explode(array((0 until lshTables).map { c =>
            struct(lit(c).as("chunk"),
              lsh_bucket(col(vcol), lshBitsPerTable, c * lshBitsPerTable)
                .as("ck"))
          }: _*)).as("blk"): _*)
        .select(idCols.map(col) ++ Seq(col(vcol),
          col("blk.chunk").as("chunk"), col("blk.ck").as("ck")): _*)

    val corpus = unitCorpus(spark, sfDir)
    val q = queries(spark, sfDir, numQueries)
    val cChunk = chunked(corpus, "u", Seq("vec_id"))
    val qChunk = chunked(q, "q", Seq("q_id"))
    val cand = cChunk.as("c")
      .join(broadcast(qChunk.as("qq")),
        col("c.chunk") === col("qq.chunk") && col("c.ck") === col("qq.ck") &&
          col("c.vec_id") =!= col("qq.q_id"))
      .select(col("qq.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        col("qq.q").as("q"), col("c.u").as("u"))
      .distinct()
    cosineTopK(cand, k)
  }

  /** IVF coarse-quantizer defaults: 16 cells, 4 probed per query. */
  val ivfClusters = 16
  val ivfProbes = 4

  /** ANN via an IVF (inverted-file) index — the second classic scale
    * path next to LSH. Structure: a small centroid codebook partitions
    * the corpus into cells (each vector assigned to its nearest
    * centroid by cosine, ties to the lowest centroid id); a query
    * scores only the vectors in its `ivfProbes` nearest cells.
    *
    * The codebook here is SEEDED — the `ivfClusters` lowest-id vectors —
    * which keeps the whole operator deterministic and oracle-checkable
    * (q32); a k-means-trained codebook drops in by replacing `cents`
    * (training changes the codebook, not the operator shape).
    *
    * Scale: assignment is `ivfClusters` dot products per corpus vector
    * (linear, broadcast codebook, no corpus shuffle beyond one
    * argmax aggregation of (vec_id, sim, c_id) triples — the vectors
    * themselves rejoin by id once). Probing touches ~probes/clusters
    * of the corpus per query.
    */
  def annIvf(
      spark: SparkSession, sfDir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = unitCorpus(spark, sfDir)
    val cents = seededCodebook(corpus)
    annIvfWithCodebook(spark, sfDir, cents, numQueries, k)
  }

  /** The deterministic default codebook: the `clusters` lowest-id
    * corpus vectors. Oracle-replayable (q32's SQL hard-codes the same
    * rule).
    */
  def seededCodebook(corpus: DataFrame, clusters: Int = ivfClusters): DataFrame =
    corpus.filter(col("vec_id") < clusters)
      .select(col("vec_id").as("c_id"), col("u").as("cv"))

  /** k-means-trained codebook (Lloyd's iterations), entirely in
    * DataFrame ops — no collect of the corpus, no MLlib dependency:
    * assignment = broadcast-codebook argmax (`ivfClusters` dot products
    * per vector, linear); update = per-(cell, position) mean via
    * posexplode + re-assembly, then re-normalization to the unit
    * sphere (spherical k-means — the right variant under cosine).
    * Init = the seeded codebook, fixed iteration count; empty cells
    * keep their previous centroid.
    *
    * ORACLE-EXACT (round-10): each coordinate FLOORS to integer
    * PICO-units (×10¹²) before the per-(cell, position) sum — the
    * accumulation is then a BIGINT Σ, order-independent where the
    * previous `avg(double)` varied with partitioning, and the mean is
    * ONE double division `Σ_pico / (n · 10¹²)` — so the trained book
    * (and everything downstream of it) is bit-reproducible and
    * DuckDB-replayable (q163's per-iteration CTE chain, the q153/q155
    * pico precedent). Quantization error is 10⁻¹² per coordinate —
    * far below the 10⁻³-scale coordinate noise k-means is averaging
    * over; recall is unaffected (SimilaritySpec's structured-data
    * floor).
    *
    * At 100 TB: train on a corpus SAMPLE (pass `corpus.sample(...)`),
    * then assign the full corpus once — the standard IVF build.
    */
  def kmeansCodebook(corpus: DataFrame, iters: Int = 5): DataFrame = {
    // pin the corpus hash-partitioned by vec_id and cached: the
    // embedding arrays are shuffled ONCE here; every iteration's
    // join-back then reuses this partitioning, so only the small
    // (vec_id, sim, c_id) triples move per iteration (the old
    // max(struct(sim, nc, u)) form shuffled the full vector inside
    // every per-iteration aggregate: ~1 TB at 1 B x 128-dim doubles)
    val c = corpus.repartition(col("vec_id")).persist()
    try {
      // CODEBOOK STATE DRIVER-SIDE (round-18, guide §1.2): the book
      // is `ivfClusters` rows (16), but each Lloyd's
      // iteration used to maintain it as a DataFrame: a left-join of
      // the previous book against the new means plus an eager
      // localCheckpoint per iteration (2+ extra jobs x iters). The
      // corpus-linear work (assignment, pico-exact means) stays in
      // Spark unchanged; only the bounded (c_id, cv) table collects
      // (the q215/q380 bounded-domain rule) and re-enters each
      // iteration as a local relation that assignCells broadcasts.
      // Every double passes through collect/re-literal bit-exactly,
      // and cv_new (incl. l2normalize) is still computed BY SPARK, so
      // the trained book — and the q163 oracle's per-iteration CTE
      // replay — is unchanged (SimilaritySpec green).
      import c.sparkSession.implicits._
      def toDf(rows: Seq[(Long, Seq[Double])]): DataFrame =
        rows.toDF("c_id", "cv")
      var cents: Seq[(Long, Seq[Double])] =
        seededCodebook(c).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_._1).toSeq
      for (_ <- 0 until iters) {
        val assigned = assignCells(c, toDf(cents)).join(c, "vec_id")
        val means = assigned
          .select(col("c_id"), posexplode(col("u")).as(Seq("pos", "x")))
          // exact fixed-point accumulate; ONE division so the double
          // rounding sequence is identical in the SQL replay
          .select(col("c_id"), col("pos"),
            floor(col("x") * lit(1.0e12)).cast("long").as("xq"))
          .groupBy(col("c_id"), col("pos"))
          .agg((sum(col("xq")).cast("double") /
            (count(lit(1)).cast("double") * lit(1.0e12))).as("mx"))
          .groupBy(col("c_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("mx")))),
            s => s.getField("mx")).as("mean"))
          .select(col("c_id"),
            Vectors.l2normalize(col("mean")).as("cv_new"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
        // empty cells keep their previous centroid (the old left-join
        // + coalesce, driver-side)
        cents = cents.map { case (id, cv) => (id, means.getOrElse(id, cv)) }
      }
      toDf(cents)
    } finally c.unpersist()
  }

  private[graft] val ivfTrainIters = 3

  /** The q163 driver entry: IVF served from a LLOYD'S-TRAINED
    * codebook — the extension the seeded-book q32 deliberately left
    * open ([[annIvfWithCodebook]] "a trained book drops in"). At
    * 100 TB the seeded book is the weak link: cell sizes track
    * whatever the first `ivfClusters` vectors happened to be, so hot
    * cells make probing scan far more than probes/clusters of the
    * corpus; trained centroids equalize cell mass and sharpen
    * boundaries (recall floor pinned in SimilaritySpec on structured
    * data). The serve plan is IDENTICAL to q32's — training changes
    * the codebook frame, not the operator shape — and the whole
    * train+serve pipeline is exactly DuckDB-replayable thanks to the
    * pico-exact mean (oracle: per-iteration CTE chain, q155's
    * generated-replay precedent).
    */
  def annIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = unitCorpus(spark, sfDir)
    annIvfWithCodebook(spark, sfDir,
      kmeansCodebook(corpus, iters = ivfTrainIters))
  }

  /** (vec_id, c_id) nearest-centroid assignment against a broadcast
    * codebook: argmax via max of (sim, -c_id) = highest sim, lowest
    * c_id on ties — matches the oracle's ORDER BY sim DESC, c_id ASC
    * row_number()=1. The aggregate reduces THREE scalar columns; the
    * embedding array never enters the shuffle (SimilaritySpec asserts
    * no array column in this plan's aggregates).
    */
  def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        Vectors.dot(col("u"), col("cv")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("c_id")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("c_id"))

  /** PQ defaults: 8 subspaces × 8 dims over the 64-dim vectors, 16
    * centroids per subspace → an 8-byte code per vector (64× smaller
    * than the float64 normalized vector).
    */
  val pqSubspaces = 8
  val pqSubDim = 8
  val pqCentroids = 16

  /** ANN via PRODUCT QUANTIZATION (q153) — the third classic scale
    * path next to LSH (q31) and IVF (q32), and the one that changes
    * the MEMORY story: the corpus compresses to an 8-byte code per
    * vector (codes for 10⁹ vectors fit in 8 GB — RAM-resident where
    * the raw vectors are not), queries scan CODES via a per-query
    * lookup table (ADC), and only the top-`rerank` candidates touch
    * full vectors for exact re-scoring. Structure: each vector
    * splits into 8 subspaces of 8 dims; each subspace has its own
    * 16-centroid codebook (seeded by the 16 lowest-id vectors'
    * subvectors — the q32 determinism rule; a trained book drops in
    * the same way k-means does for IVF); code[s] = argmin-L2²
    * centroid, ties to the lowest id.
    *
    * Exactness devices: every per-subspace distance FLOORS to
    * integer PICO-units (×10¹²) the moment it is computed — argmin
    * compares integers, and the ADC total is an 8-term BIGINT sum,
    * order-independent where a double Σ over subspaces would hash-
    * diverge; the L2² fold itself is sequential `aggregate`/
    * `list_sum` (the q92 order-matching precedent). Final scores are
    * exact cosines on the re-rank candidates only.
    *
    * Scale shape: codebooks broadcast (8×16 tiny rows); encoding is
    * linear with one (vec, subspace)-grain argmin aggregate; ADC
    * joins codes against a BROADCAST per-query distance table and
    * re-aggregates on (q_id, vec_id) with map-side combine; the
    * corpus vectors are touched again only for `rerank` rows per
    * query.
    */
  /** Subspace exploder / floored-pico L2² shared by the PQ paths. */
  private def pqSubspaceSplit(v: org.apache.spark.sql.Column) =
    posexplode(array((0 until pqSubspaces).map(s =>
      slice(v, s * pqSubDim + 1, pqSubDim)): _*))

  private def pqD2Pico(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    floor(lit(1.0e12) * aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)).cast("long")

  /** PQ index BUILD: (codes, codebooks) — codes are one 4-bit centroid
    * id per (vector, subspace) (8 bytes per vector at the declared
    * 8×16 geometry), books are the 8 seeded 16-centroid codebooks.
    */
  def pqIndex(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val corpus = unitCorpus(spark, sfDir)
    val cents = corpus.filter(col("vec_id") < pqCentroids)
      .select(col("vec_id").as("c_id"),
        pqSubspaceSplit(col("u")).as(Seq("s", "cv")))
    (pqEncode(corpus, cents), cents)
  }

  /** Encode a `(vec_id, u)` corpus against a `(c_id, s, cv)` codebook
    * frame: one argmin aggregate at (vec, subspace) grain, codebooks
    * broadcast. Factored out so the INCREMENTAL build (q161) encodes
    * a delta batch against persisted books through the identical
    * plan the full build uses.
    */
  def pqEncode(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"), pqSubspaceSplit(col("u")).as(Seq("s", "sub")))
      .join(broadcast(cents), "s")
      .select(col("vec_id"), col("s"),
        struct(pqD2Pico(col("sub"), col("cv")).as("d"), col("c_id")).as("dc"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("s"), col("m.c_id").as("code"))

  /** Integer ADC of every `(vec_id, s, code)` code against each query
    * `(q_id, q)` through the broadcast per-query (subspace, centroid)
    * distance table over `books` `(c_id, s, cv)`, self excluded; the
    * `n` lowest per query by (adc_pico asc, vec_id asc), ranked `rn`.
    * The ADC stage of q153 and of the persisted serve (q156/q160/q161),
    * the Spark twin of the oracle's `pqAdcCtes` `qdist`/`adc` tail.
    */
  private def pqAdcTop(codes: DataFrame, books: DataFrame, q: DataFrame,
      n: Int): DataFrame = {
    val qdist = q
      .select(col("q_id"), pqSubspaceSplit(col("q")).as(Seq("s", "qs")))
      .join(broadcast(books), "s")
      .select(col("q_id"), col("s"), col("c_id"),
        pqD2Pico(col("qs"), col("cv")).as("d"))
    val adc = codes.join(broadcast(qdist),
        codes("s") === qdist("s") && col("code") === col("c_id"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_pico"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_pico").asc, col("vec_id").asc)
    adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
  }

  def annPq(
      spark: SparkSession, sfDir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = unitCorpus(spark, sfDir)
    val (codes, cents) = pqIndex(spark, sfDir)
    val q = queries(spark, sfDir, numQueries)
    // ADC shortlist through the per-query (s, centroid) distance table
    val cand = pqAdcTop(codes, cents, q, 40)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank on the shortlist only
    cosineTopK(cand.join(corpus, "vec_id").join(broadcast(q), "q_id"), k)
  }

  /** Persisted PQ index lifecycle (q156): q153's index is WRITTEN as
    * a real artifact — codes + codebooks parquet — read back, and a
    * query batch is served from the PERSISTED files alone. This is
    * the deployment shape of PQ (build once per corpus snapshot,
    * serve many query batches); the q46 persisted-signature
    * precedent, with the stronger property that SERVING never touches
    * corpus vectors at all: the ADC score needs only the 8-byte codes
    * plus the broadcast query lookup table, so the 100 TB corpus is
    * read zero times per batch (SimilaritySpec plan-asserts that the
    * serve plan's only embeddings scan is the numQueries-row query
    * batch itself). Output is the ADC top-k — the no-re-rank serving
    * tier; a re-rank tier composes on top exactly as in q153.
    */
  def annPqPersistedServe(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q156_pq_index", sfDir) { dir =>
      val (codes, cents) = pqIndex(spark, sfDir)
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      cents.write.mode("overwrite").parquet(s"$dir/books")
      servePq(spark, s"$dir/codes", s"$dir/books",
        queries(spark, sfDir, 5), 10)
    }

  /** ADC serving from a persisted index: scans codes, broadcasts the
    * per-query (subspace, centroid) distance table built from the
    * persisted books, one map-side-combined (q_id, vec_id) sum.
    */
  def servePq(spark: SparkSession, codesPath: String, booksPath: String,
      q: DataFrame, k: Int): DataFrame = {
    val codes = Tables.parquet(spark, codesPath)
    val books = Tables.parquet(spark, booksPath)
    pqAdcTop(codes, books, q, k)
      .select(col("q_id"), col("vec_id"), col("adc_pico"), col("rn"))
  }

  private val pqStreamQueries = 5
  private val pqStreamK = 10

  /** The q160 driver entry: ONLINE ANN SERVING — queries arrive as a
    * STREAM and are answered from the persisted PQ index (q156's
    * artifact), the deployment shape of a retrieval endpoint: index
    * built once per corpus snapshot, query batches served
    * continuously. Each micro-batch runs the exact batch serve plan
    * via `foreachBatch` (the q81 sink precedent): ADC against the
    * broadcast per-query distance table, results appended to a
    * parquet sink. The stream side is stateless — the static index
    * never retracts, so there is no watermark and no state store;
    * scale-out is per-batch parallelism over the codes scan, which
    * is the RAM-resident 8-byte-codes story applied to serving.
    *
    * `foreachBatch` rather than a streaming join because the serve
    * plan ends in a per-query top-k (window row_number) — not
    * expressible inside a streaming query, and exactly what
    * foreachBatch exists for: run an arbitrary BATCH plan over each
    * micro-batch. Result rows are batch-invariant (each query's
    * top-k depends only on its own row + the static index), so the
    * oracle is q156's verbatim.
    */
  def annPqServeStream(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q160_pq_stream", sfDir) { dir =>
      val (codes, cents) = pqIndex(spark, sfDir)
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      cents.write.mode("overwrite").parquet(s"$dir/books")
      // stream schema probed from the file's batch schema (the same
      // adaptive contract as EventStream.readEvents — never declare a
      // physical encoding blind)
      val embBatch = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      val served = s"$dir/served"
      val q = spark.readStream.schema(embBatch.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
        .where(col("vec_id") < pqStreamQueries)
        .select(col("vec_id").as("q_id"),
          Vectors.l2normalize(col("embedding")).as("q"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            servePq(batch.sparkSession, s"$dir/codes", s"$dir/books",
              batch, pqStreamK)
              .write.mode("append").parquet(served)
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // an empty query stream never fires a batch, so the sink dir is
      // never created — the served frame is then legitimately empty.
      // Its schema is DERIVED from the serve plan over a zero-row
      // query frame (analysis only, nothing executes), so the serve
      // contract has exactly one definition (round-9 nit: the previous
      // field-by-field literal here could silently drift from servePq).
      if (new java.io.File(served).exists()) Tables.parquet(spark, served)
      else {
        val emptyQueries = embBatch
          .where(col("vec_id") < pqStreamQueries)
          .select(col("vec_id").as("q_id"),
            Vectors.l2normalize(col("embedding")).as("q"))
          .limit(0)
        val servedSchema = servePq(spark, s"$dir/codes", s"$dir/books",
          emptyQueries, pqStreamK).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], servedSchema)
      }
    }

  private val pqBaseCount = 250

  /** The q161 driver entry: INCREMENTAL PQ INDEX MAINTENANCE — the
    * append-only growth path of the persisted index (q46's
    * persisted-MinHash-signature precedent applied to PQ): day 1
    * builds books + codes from the base corpus and writes both; day
    * 2's new vectors are encoded against the PERSISTED books alone
    * (read back from parquet — no re-training, no base-corpus
    * re-scan) and their codes APPEND to the codes artifact; serving
    * then reads the union. Because the codebooks are frozen at day 1
    * (the real-world contract: re-quantizing the base would rewrite
    * every code), the union index is code-identical to a from-scratch
    * build over the full corpus — which is exactly what the oracle
    * asserts by replaying q156's full build.
    *
    * Scale shape: the daily increment costs O(|delta|) encode work
    * against broadcast books plus one parquet append; nothing
    * touches the existing codes. The seeded books live in the base
    * corpus by construction (centroid ids < pqCentroids < baseCount).
    */
  def annPqIncrementalServe(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.withScratch(spark, "q161_pq_incr", sfDir) { dir =>
      val corpus = unitCorpus(spark, sfDir)
      val base = corpus.filter(col("vec_id") < pqBaseCount)
      val cents = base.filter(col("vec_id") < pqCentroids)
        .select(col("vec_id").as("c_id"),
          pqSubspaceSplit(col("u")).as(Seq("s", "cv")))
      pqEncode(base, cents).write.mode("overwrite").parquet(s"$dir/codes")
      cents.write.mode("overwrite").parquet(s"$dir/books")
      // day 2: encode the delta against the PERSISTED books only
      val books = Tables.parquet(spark, s"$dir/books")
      pqEncode(corpus.filter(col("vec_id") >= pqBaseCount), books)
        .write.mode("append").parquet(s"$dir/codes")
      servePq(spark, s"$dir/codes", s"$dir/books",
        queries(spark, sfDir, 5), 10)
    }

  /** [[annIvf]] parameterized on the codebook frame `(c_id, cv)` —
    * seeded or k-means-trained books run the identical physical plan.
    */
  def annIvfWithCodebook(
      spark: SparkSession, sfDir: String, cents: DataFrame,
      numQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = unitCorpus(spark, sfDir)
    val assigned = assignCells(corpus, cents).join(corpus, "vec_id")
    val q = queries(spark, sfDir, numQueries)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val qprobes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("q"), col("c_id"),
        Vectors.dot(col("q"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= ivfProbes)
      .select(col("q_id"), col("q"), col("c_id"))
    cosineTopK(assigned.join(broadcast(qprobes), "c_id")
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  private val bitextK = 4

  /** Margin mining over candidate pairs carrying `(s_id, sv)` and
    * `(t_id, tv)`: micro-unit cosines pinned once, each side's
    * top-`bitextK` sums, one final division, the forward-best rank at
    * margin >= 105. The tail of q168 and q323, the Spark twin of the
    * oracle's `bitextMarginSql`.
    */
  private def bitextMargin(pairs: DataFrame): DataFrame = {
    val sims = pairs
      .select(col("s_id"), col("t_id"),
        floor(lit(1000000.0) * Vectors.dot(col("sv"), col("tv")))
          .cast("long").as("sim_micro"))
      .localCheckpoint(true) // read 3x (top-k both sides + the join)
    val wS = Window.partitionBy(col("s_id"))
      .orderBy(col("sim_micro").desc, col("t_id").asc)
    val topS = sims.withColumn("rn", row_number().over(wS))
      .where(col("rn") <= bitextK)
      .groupBy(col("s_id")).agg(sum(col("sim_micro")).as("sk"))
    val wT = Window.partitionBy(col("t_id"))
      .orderBy(col("sim_micro").desc, col("s_id").asc)
    val topT = sims.withColumn("rn", row_number().over(wT))
      .where(col("rn") <= bitextK)
      .groupBy(col("t_id")).agg(sum(col("sim_micro")).as("tk"))
    val wBest = Window.partitionBy(col("s_id"))
      .orderBy(col("margin_pct").desc, col("sim_micro").desc,
        col("t_id").asc)
    sims.join(topS, "s_id").join(topT, "t_id")
      .where(col("sk") + col("tk") > 0)
      .withColumn("margin_pct",
        floor((lit(100L * 2 * bitextK) * col("sim_micro")).cast("double") /
          (col("sk") + col("tk")).cast("double")).cast("long"))
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1 && col("margin_pct") >= 105L)
      .select(col("s_id"), col("t_id"), col("sim_micro"),
        col("margin_pct"))
  }

  /** The q168 driver entry: MARGIN-BASED BITEXT MINING — the parallel-
    * corpus construction of Artetxe & Schwenk 2019 (the LASER /
    * CCMatrix pipeline): candidate translation pairs are NOT the raw
    * nearest neighbors but the pairs whose cosine stands out against
    * each side's local similarity level — the RATIO margin
    * cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2), which kills hub
    * vectors that are everyone's neighbor. Here the two "languages"
    * are two label slices of the embeddings table (the fixture's
    * stand-in for source/target encoder outputs).
    *
    * Exactness device: cosines floor to MICRO-units once, then the
    * margin is pure integer arithmetic until ONE final division —
    * margin_pct = floor(100 · sim · 2k / (sk + tk)) where sk/tk are
    * the BIGINT sums of each side's top-k sims. Both engines divide
    * the same two exact integers. A pair mines when its margin
    * clears 105% (the paper's ~1.05 threshold) AND it
    * is its source's best margin (one pair per source row, the
    * forward mining direction; intersecting with the reverse
    * direction composes the same operator label-swapped).
    *
    * Scale shape: the fixture runs the exact all-pairs sims (two
    * label slices, broadcast the smaller); at 100 TB the sims frame
    * is replaced by ANN candidates (q31's LSH or q32's IVF serving
    * exactly this join shape) and the margin arithmetic is unchanged
    * — the top-k window and the argmax window both key on one side's
    * id, so nothing here is corpus-quadratic.
    */
  def bitextMine(spark: SparkSession, sfDir: String): DataFrame = {
    val u = labeledUnits(spark, sfDir)
    val srcV = u.where(col("label") === 0)
      .select(col("vec_id").as("s_id"), col("v").as("sv"))
    val tgtV = u.where(col("label") === 1)
      .select(col("vec_id").as("t_id"), col("v").as("tv"))
    bitextMargin(srcV.crossJoin(broadcast(tgtV)))
  }

  /** The hard-negative band/rank over candidate pairs carrying
    * `(a_id, a_label, av)` and `(n_id, n_label, nv)`: different id and
    * label, micro-unit cosine in [0.1, 0.95), the 5 nearest per anchor
    * by (sim desc, id asc). The tail of q169 and q322, the Spark twin of
    * the band/rank SELECT both oracles end with.
    */
  private def hardNegativeBand(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("sim_micro").desc, col("n_id").asc)
    pairs
      .where(col("a_id") =!= col("n_id") &&
        col("a_label") =!= col("n_label"))
      .select(col("a_id"), col("n_id"),
        floor(lit(1000000.0) * Vectors.dot(col("av"), col("nv")))
          .cast("long").as("sim_micro"))
      .where(col("sim_micro") >= 100000L && col("sim_micro") < 950000L)
      .withColumn("neg_rank", row_number().over(w))
      .where(col("neg_rank") <= 5)
  }

  /** The q169 driver entry: HARD-NEGATIVE MINING — the contrastive-
    * training data op (DPR / SimCSE lineage): for each anchor, the
    * most-similar vectors of a DIFFERENT label inside a similarity
    * BAND — hard enough to teach the boundary (sim >= lo), but
    * excluding the near-duplicate top (sim < hi) that is more likely
    * an unlabeled positive than a negative (the false-negative trap
    * the DPR paper warns about). Same-label vectors are the positive
    * proxy and never mined.
    *
    * All selection logic is integer (micro-unit band bounds) plus the
    * deterministic (sim desc, id asc) rank — the oracle replays it
    * exactly. Fixture scale runs the exact self-join (minus the
    * diagonal); at 100 TB the candidate frame comes from ANN serving
    * (q31/q32/q156 — the band filter composes on any candidate
    * source), so the quadratic never materializes.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val u = labeledUnits(spark, sfDir)
    val anchors = u.select(col("vec_id").as("a_id"),
      col("label").as("a_label"), col("v").as("av"))
    val cands = u.select(col("vec_id").as("n_id"),
      col("label").as("n_label"), col("v").as("nv"))
    hardNegativeBand(anchors.crossJoin(broadcast(cands)))
  }

  /** The q322 driver entry: ANN-COMPOSED HARD-NEGATIVE MINING — the
    * production form of [[hardNegatives]]: the candidate frame comes
    * from the q32 IVF index (seeded codebook, cell co-membership)
    * instead of the exact cross join, and the band/rank arithmetic
    * downstream is IDENTICAL. This is the entry that turns the "at
    * 100 TB the candidates come from ANN" prose on [[hardNegatives]]
    * into an oracle-proven plan (round-15 verdict #3).
    *
    * Candidate generation: every corpus vector is assigned to its one
    * nearest cell ([[assignCells]] — broadcast codebook, argmax, no
    * corpus-side shuffle of the vectors); every ANCHOR probes its
    * `ivfProbes` nearest cells; candidates = different-label vectors
    * assigned to a probed cell. Because assignment is a partition,
    * each (anchor, candidate) pair arises at most once — no dedup
    * stage. The cell-keyed join co-partitions both sides on `c_id`:
    * per-cell work is |cell| x (anchors probing it), the classic IVF
    * block product — probes/clusters of the quadratic, and the
    * quadratic itself never materializes (same candidate-cost law as
    * [[annIvf]]: ~probes/clusters of the corpus per anchor).
    *
    * Exactness: identical to q169 — cosines floor to micro-units
    * once, the band is integer, the rank's (sim desc, id asc) order
    * is total. The oracle replays codebook, assignment, probing, and
    * the band/rank verbatim, so the GREEN row certifies the composed
    * scale path itself, not just its pieces.
    */
  def annHardNegatives(
      spark: SparkSession, sfDir: String,
      clusters: Int = ivfClusters): DataFrame = {
    val u = labeledUnits(spark, sfDir)
    val corpus = u.select(col("vec_id"), col("v").as("u"))
    val cents = seededCodebook(corpus, clusters)
    val assigned = assignCells(corpus, cents).join(u, "vec_id")
      .select(col("c_id"), col("vec_id").as("n_id"),
        col("label").as("n_label"), col("v").as("nv"))
    val wp = Window.partitionBy(col("a_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val aProbes = u
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("av"))
      .crossJoin(broadcast(cents))
      .select(col("a_id"), col("a_label"), col("av"), col("c_id"),
        Vectors.dot(col("av"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") <= ivfProbes)
      .select(col("a_id"), col("a_label"), col("av"), col("c_id"))
    hardNegativeBand(aProbes.join(assigned, "c_id"))
  }

  /** The q323 driver entry: ANN-COMPOSED BITEXT MINING — [[bitextMine]]
    * with its sims frame served by the q32 IVF index instead of the
    * exact label-slice cross join (the CCMatrix deployment shape: the
    * margin is computed over each side's ANN shortlist, Artetxe &
    * Schwenk 2019 §3.2). Source rows probe their `ivfProbes` nearest
    * cells; the candidate sims are (source x targets assigned to a
    * probed cell); sk/tk are each side's top-k sums OVER THE CANDIDATE
    * SET — exactly how the production system computes them, since the
    * all-pairs sims never exist. Margin arithmetic, the one final
    * division, the forward-best rank, and the threshold are q168's
    * verbatim.
    *
    * Scale shape: one broadcast-codebook assignment pass per side,
    * one cell-keyed co-partitioned join (probes/clusters of the
    * quadratic), two candidate-grain top-k windows keyed on one
    * side's id, one margin join. The candidate frame is pinned once
    * (read 3x: both top-k sides + the margin join — the q291 rule,
    * inherited from q168).
    */
  def annBitextMine(
      spark: SparkSession, sfDir: String,
      clusters: Int = ivfClusters): DataFrame = {
    val u = labeledUnits(spark, sfDir)
    val corpus = u.select(col("vec_id"), col("v").as("u"))
    val cents = seededCodebook(corpus, clusters)
    val tgt = assignCells(corpus, cents).join(u, "vec_id")
      .where(col("label") === 1)
      .select(col("c_id"), col("vec_id").as("t_id"), col("v").as("tv"))
    val wp = Window.partitionBy(col("s_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val sProbes = u.where(col("label") === 0)
      .select(col("vec_id").as("s_id"), col("v").as("sv"))
      .crossJoin(broadcast(cents))
      .select(col("s_id"), col("sv"), col("c_id"),
        Vectors.dot(col("sv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") <= ivfProbes)
      .select(col("s_id"), col("sv"), col("c_id"))
    bitextMargin(sProbes.join(tgt, "c_id"))
  }

  private[graft] val annRecallKs = Seq(1, 5, 10)
  private[graft] val annRecallSampleMod = 37L

  /** The q329 driver entry: ANN RECALL EVALUATION — the index-quality
    * gate every production vector store runs before switching serving
    * to an approximate index (FAISS's recall@k convention, Johnson et
    * al. 2017): on a FIXED eval set of query vectors, the IVF
    * shortlist's top-k is compared against the exhaustive top-k, and
    * recall@k = |ANN∩BRUTE| / |BRUTE| over the whole set. Queries are
    * the deterministic vec_id % `annRecallSampleMod` slice — the standard
    * sampled-eval design: brute force is the EVAL-ONLY cost (queries
    * fixed as the corpus grows), never the serving path. Both sides
    * rank by the identical floored-micro cosine under the identical
    * (sim desc, id asc) total order, so recall here is exact, not a
    * float approximation; the per-k denominator is COUNTED from the
    * brute frame (min(k, n−1) per query by construction), never
    * assumed.
    *
    * Scale shape: the IVF side is the q32/q322 serving plan (broadcast
    * codebook, argmax assignment, cell-keyed co-partitioned candidate
    * join — probes/clusters of the quadratic); the brute side is
    * (eval queries × corpus), linear in the corpus for a fixed eval
    * set. Both shortlists pin once (each is read per k — the q291
    * rule); the per-k reduces land on counted scalars.
    */
  def annRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), Vectors.l2normalize(col("embedding")).as("v"))
    val corpus = u.select(col("vec_id"), col("v").as("u"))
    val queries = u.where(col("vec_id") % annRecallSampleMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val kMax = annRecallKs.max
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_micro").desc, col("n_id").asc)
    val brute = queries
      // BARE-CROSSJOIN-OK: eval-only brute ground-truth arm (see
      // scaladoc) — deliberately unpinned; AqeSpec's hygiene guard
      // whitelists exactly marker-adjacent sites, nothing else
      .crossJoin(u.select(col("vec_id").as("n_id"), col("v").as("nv")))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        floor(lit(1000000.0) * Vectors.dot(col("qv"), col("nv")))
          .cast("long").as("sim_micro"))
      .withColumn("b_rn", row_number().over(wRank))
      .where(col("b_rn") <= kMax)
      .select(col("q_id"), col("n_id"), col("b_rn").cast("long").as("b_rn"))
      .localCheckpoint(true) // read per k below
    val cents = seededCodebook(corpus)
    val assigned = assignCells(corpus, cents).join(u, "vec_id")
      .select(col("c_id"), col("vec_id").as("n_id"), col("v").as("nv"))
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val qProbes = queries.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("c_id"),
        Vectors.dot(col("qv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") <= ivfProbes)
      .select(col("q_id"), col("qv"), col("c_id"))
    val ann = qProbes.join(assigned, "c_id")
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        floor(lit(1000000.0) * Vectors.dot(col("qv"), col("nv")))
          .cast("long").as("sim_micro"))
      .withColumn("a_rn", row_number().over(wRank))
      .where(col("a_rn") <= kMax)
      .select(col("q_id"), col("n_id"), col("a_rn").cast("long").as("a_rn"))
    val joined = brute.join(ann, Seq("q_id", "n_id"))
      .localCheckpoint(true) // read per k below
    annRecallKs.map { k =>
      val d = brute.where(col("b_rn") <= k)
        .agg(count(lit(1)).cast("long").as("denom"),
          countDistinct(col("q_id")).cast("long").as("n_queries"))
      val h = joined.where(col("b_rn") <= k && col("a_rn") <= k)
        .agg(count(lit(1)).cast("long").as("n_hits"))
      d.crossJoin(broadcast(h)).select(lit(k.toLong).as("k"), col("n_queries"),
        col("denom"), col("n_hits"),
        // the ungrouped aggregates above emit a row even on an EMPTY
        // corpus (denom = 0), where recall is undefined — NULL, not a
        // DIVIDE_BY_ZERO (ANSI mode)
        expr("CASE WHEN denom > 0 THEN n_hits * 1000000 DIV denom END")
          .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  private val stalenessRot = 7

  /** The q330 driver entry: ANN INDEX STALENESS AUDIT — the ops
    * question q175's drift alarm raises but does not answer: after an
    * encoder version change, HOW MUCH of the serving index is stale?
    * Production cannot retrain the codebook the moment the encoder
    * ships (reindexing 10^10 vectors takes days), so it serves the
    * FROZEN codebook against re-encoded queries/ingest and needs the
    * damage quantified per cell: the fraction of each cell's vectors
    * whose argmax assignment MOVES under the new encoding, and the
    * cell's mean self-similarity across the boundary (re-encoded
    * vector vs its own old self — cos ~1 means comparable, ~0 means
    * the cell's geometry is gone). Re-encoding reuses q175's device:
    * labels >= 5 get the deterministic 7-rotation "new encoder",
    * labels < 5 pass through — so the audit must localize staleness
    * to exactly the cells dominated by re-encoded labels.
    *
    * Exactness: assignments are the q32 argmax under the (sim desc,
    * c_id asc) total order on both encodings; self-similarity floors
    * to micro per PAIR then integer-averages (SUM DIV n) — no float
    * aggregate crosses an engine boundary.
    *
    * Scale shape: two broadcast-codebook assignment passes (linear,
    * no vector shuffle — the q322 serve plan), one row-local pair
    * cosine, one map-side-combined cell-grain aggregate. The output
    * is codebook-bounded.
    */
  def indexStaleness(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val v = col("embedding")
    val reencoded = when(col("label") < 5, v)
      .otherwise(concat(slice(v, lit(stalenessRot + 1), size(v) - stalenessRot),
        slice(v, lit(1), lit(stalenessRot))))
    val u1 = emb.select(col("vec_id"),
      Vectors.l2normalize(v).as("v1"))
    val u2 = emb.select(col("vec_id"),
      Vectors.l2normalize(reencoded).as("v2"))
    val corpus1 = u1.select(col("vec_id"), col("v1").as("u"))
    val cents = seededCodebook(corpus1)
    val a1 = assignCells(corpus1, cents)
      .select(col("vec_id"), col("c_id"))
    val a2 = assignCells(u2.select(col("vec_id"), col("v2").as("u")), cents)
      .select(col("vec_id"), col("c_id").as("c_id2"))
    u1.join(u2, "vec_id").join(a1, "vec_id").join(a2, "vec_id")
      .select(col("c_id"),
        when(col("c_id") =!= col("c_id2"), 1L).otherwise(0L).as("moved"),
        floor(lit(1000000.0) * Vectors.dot(col("v1"), col("v2")))
          .cast("long").as("self_sim_micro"))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("moved")).cast("long").as("n_moved"),
        sum(col("self_sim_micro")).cast("long").as("sim_sum"))
      .select(col("c_id"), col("n"), col("n_moved"),
        expr("n_moved * 1000000 DIV n").as("moved_ppm"),
        expr("sim_sum DIV n").as("mean_self_sim_micro"))
  }

  private val driftRot = 7

  /** The q175 driver entry: EMBEDDING DRIFT MONITOR — the standing
    * alarm a production feature store runs between embedding-model
    * versions: per-label centroids of the day-1 encoding vs the
    * day-2 encoding, compared by cosine; a label whose centroid
    * moved past the threshold means its vectors are NOT comparable
    * across the boundary and every ANN index / dedup signature built
    * on them must be rebuilt (the q46/q161/q173 artifacts all assume
    * encoder stability — this is the op that checks it).
    *
    * Day-2 here re-encodes labels >= 5 with a "new encoder version"
    * (a deterministic 7-position rotation — decorrelated from the
    * original, the ScalingProbe device) while labels < 5 pass
    * through unchanged: the monitor must flag exactly the re-encoded
    * half (unchanged labels read cos ~1.0, re-encoded ~0.0 on
    * unclustered fixtures; threshold 0.5).
    *
    * Exactness: centroids via the q163 pico-integer means (exact
    * BIGINT sums, ONE division per component), assembled in position
    * order, compared with the sequential-fold cosine — the identical
    * tree both engines — and floored to micro-units for the flag.
    *
    * Scale shape: the only corpus-size exchange is the map-side-
    * combined (label, pos) aggregate (bounded by labels x dims);
    * centroid join and cosine are dim-bounded.
    */
  def embeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val day1 = emb.select(col("label"),
      Vectors.l2normalize(col("embedding")).as("u"))
    val v = col("embedding")
    val reencoded = when(col("label") < 5, v)
      .otherwise(concat(slice(v, lit(driftRot + 1), size(v) - driftRot),
        slice(v, lit(1), lit(driftRot))))
    val day2 = emb.select(col("label"),
      Vectors.l2normalize(reencoded).as("u"))
    def centroids(side: DataFrame): DataFrame = side
      .select(col("label"), posexplode(col("u")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        floor(col("x") * lit(1.0e12)).cast("long").as("xq"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("nc"),
        (sum(col("xq")).cast("double") /
          (count(lit(1)).cast("double") * lit(1.0e12))).as("mx"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("c"),
        max(col("nc")).as("n"))
    val a = centroids(day1).select(col("label"),
      col("c").as("c1"), col("n").as("n_day1"))
    val b = centroids(day2).select(col("label"),
      col("c").as("c2"), col("n").as("n_day2"))
    a.join(b, Seq("label"))
      .select(col("label"), col("n_day1"), col("n_day2"),
        floor(lit(1000000.0) * Vectors.cosine(col("c1"), col("c2")))
          .cast("long").as("drift_cos_micro"))
      .withColumn("is_drifted", col("drift_cos_micro") < 500000L)
  }

  /** The q183 driver entry: EMBEDDING-TRUNCATION RECALL AUDIT (the
    * Matryoshka / MRL question, Kusupati et al. 2022) — how much
    * retrieval quality survives keeping only the first d dimensions?
    * MRL-trained encoders front-load information precisely so serving
    * can truncate (4× smaller index, 4× faster dot products); this
    * audit MEASURES that trade on the actual corpus before anyone
    * flips the switch: per query, exact top-k under the full vectors
    * vs exact top-k under re-normalized d-prefix vectors, reported as
    * recall@k plus the two top-1 ids (the row a human checks first).
    *
    * Determinism: both rankings use the bit-portable sequential-fold
    * cosine (q30 device) with (cos desc, vec_id) total order; the
    * overlap count is then exact, and recall scales to integer basis
    * points (k divides 10000) — no float in any output but none is
    * needed.
    *
    * Scale shape: two broadcast-query scans over the corpus (the
    * query set is small by construction), each a per-partition top-k
    * under the window = distributed TakeOrdered per query; the audit
    * join touches 2·k rows per query. At 10⁹ vectors the full scan
    * pair is exactly what the audit must cost once — and the
    * truncated side is the 4×-cheaper scan being priced.
    */
  def mrlRecallAudit(
      spark: SparkSession, sfDir: String,
      numQueries: Int = 5, k: Int = 10, truncDim: Int = 16): DataFrame = {
    require(10000 % k == 0, "k must divide 10000 for exact basis points")
    val emb = Tables.load(spark, sfDir, "embeddings")
    def topk(corpus: DataFrame, qs: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      corpus.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Vectors.dot(col("q"), col("u")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("vec_id"), col("rk"))
    }
    val full = emb.select(col("vec_id"),
      Vectors.l2normalize(col("embedding")).as("u"))
    val trunc = emb.select(col("vec_id"),
      Vectors.l2normalize(slice(col("embedding"), 1, truncDim)).as("u"))
    val qFull = emb.orderBy(col("vec_id")).limit(numQueries)
      .select(col("vec_id").as("q_id"),
        Vectors.l2normalize(col("embedding")).as("q"))
    val qTrunc = emb.orderBy(col("vec_id")).limit(numQueries)
      .select(col("vec_id").as("q_id"),
        Vectors.l2normalize(slice(col("embedding"), 1, truncDim)).as("q"))
    val ft = topk(full, qFull)
    val tt = topk(trunc, qTrunc)
    val overlap = ft.join(tt, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    ft.where(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("full_top1"))
      .join(tt.where(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("trunc_top1")), Seq("q_id"))
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * lit((10000 / k).toLong))
          .as("recall_bp"),
        col("full_top1"), col("trunc_top1"))
  }

  /** The q203 driver entry: CLASS-SEPARABILITY AUDIT — the per-pair
    * Fisher criterion over the embedding space: for every label pair
    * and every dimension, (μ_a − μ_b)² / (σ²_a + σ²_b), summed over
    * dimensions. THE go/no-go number before training a classifier on
    * labeled embeddings (LDA's objective, read as a diagnostic): a
    * pair scoring near zero is inseparable in this space no matter
    * the model, and a label whose every pairing scores low is mislabeled
    * or the encoder ignores it.
    *
    * Exactness: components quantize to micro-int (q71's grid — the
    * squares then fit BIGINT at any corpus size that fits a
    * shuffle); per-(label, dim) sufficient statistics (n, Σx, Σx²)
    * are order-independent BIGINTs; means/variances are identical-
    * tree double chains; each dimension's Fisher term micro-floors
    * (the q141 rule applied to a division) so the per-pair sum is
    * again an exact BIGINT. Degenerate dimensions (both variances
    * zero) contribute the 10¹² sentinel, never Infinity (q185 rule).
    *
    * Scale shape: ONE map-side-combined (label, dim) aggregate over
    * the corpus; everything after is (labels² × dims)-bounded.
    */
  def classSeparability(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        floor(col("x").cast("double") * lit(1000000.0)).cast("long")
          .as("xq"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"),
        sum(col("xq") * col("xq")).as("q"))
    def mean(s: Column, n: Column): Column =
      s.cast("double") / n.cast("double")
    def variance(q: Column, s: Column, n: Column): Column =
      q.cast("double") / n.cast("double") -
        mean(s, n) * mean(s, n)
    val a = stats.select(col("label").as("label_a"), col("pos"),
      col("n").as("na"), col("s").as("sa"), col("q").as("qa"))
    val b = stats.select(col("label").as("label_b"), col("pos"),
      col("n").as("nb"), col("s").as("sb"), col("q").as("qb"))
    val dm = mean(col("sa"), col("na")) - mean(col("sb"), col("nb"))
    val vsum = variance(col("qa"), col("sa"), col("na")) +
      variance(col("qb"), col("sb"), col("nb"))
    val term = when(vsum === 0.0, lit(1000000000000L))
      .otherwise(floor(lit(1000000.0) * ((dm * dm) / vsum)).cast("long"))
    a.join(b, Seq("pos")).where(col("label_a") < col("label_b"))
      .withColumn("term", term)
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        count(lit(1)).as("n_dims"),
        sum(col("term")).cast("long").as("fisher_micro"))
      .withColumn("fisher_per_dim",
        col("fisher_micro").cast("double") /
          (col("n_dims").cast("double") * lit(1000000.0)))
  }

  private[graft] val dominantEigenIters = 40

  /** The q214 driver entry: DOMINANT EIGENVECTOR of the embedding
    * second-moment matrix via INTEGER power iteration — the core of
    * embedding whitening / anisotropy removal (the "all-but-the-top"
    * post-processing retrieval stacks run before cosine) and the
    * direction PCA-based dim-reduction keeps first. Embeddings are
    * micro-floored to exact ints; C = Σ e eᵀ is ONE map-side-combined
    * aggregate over the d² = 4,096 cell domain (each row explodes its
    * own outer product row-locally — corpus never joins itself);
    * the 40-round iteration then runs driver-side on the collected
    * 64x64 matrix in BigInt (the BPE-argmax precedent: iteration
    * state is bounded, data-scale work stays distributed), with
    * per-round renormalization to 2^0-scale 1e6 by TRUNCATING
    * division (BigInt / == DuckDB HUGEINT //). λ is the Rayleigh
    * quotient vᵀCv / vᵀv, truncating-divided once.
    *
    * The oracle replays C in SQL and the 40 rounds as generated
    * MATERIALIZED CTEs over HUGEINT (DuckDB SUM(BIGINT) is already
    * HUGEINT) — bit-identical integer arithmetic end to end; no
    * IEEE accumulation-order hazard exists anywhere in the operator.
    *
    * Scale shape: the covariance pass is the only corpus-touching
    * stage (linear, combiner-friendly); iteration cost is O(d²·T) on
    * the driver, independent of corpus size — at 100 TB nothing
    * changes but the one aggregate's input.
    */
  def dominantEigen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = 64
    val emb = Tables.load(spark, sfDir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(transform(col("embedding"), x =>
        floor(lit(1000000.0) * x.cast("double")).cast("long")).as("em"))
    // round-12 advice: the covariance cell sum aggregates ~1e12-scale
    // per-row products — a LongType SUM silently wraps past ~9e6
    // embeddings while the oracle's HUGEINT SUM does not. A straight
    // DECIMAL(38,0) aggregate fixes that but runs the whole explode
    // through 128-bit adds (bench r12 confirmed 1.57 -> 2.86 s), so
    // the sum is TWO-LEVEL: per-scan-partition partials stay in Long
    // — exact while a partition holds < 2^63/1.1e12 ~ 8.4e6
    // embeddings, and a 128 MB scan partition holds ~5e5 — and only
    // the 4096-per-partition partial rows merge in DECIMAL(38,0).
    // Exact at any corpus size, Long-speed on the data-scale path;
    // cells land driver-side as exact BigInt matching the oracle.
    val cov = emb
      .select(posexplode(flatten(transform(col("em"), x =>
        transform(col("em"), y => x * y)))).as(Seq("idx", "prod")))
      .groupBy(col("idx"), spark_partition_id().as("pid"))
      .agg(sum(col("prod")).as("ps"))
      .groupBy(col("idx"))
      .agg(sum(col("ps").cast("decimal(38,0)")).as("s"))
      .collect().map(r =>
        r.getInt(0) -> r.getDecimal(1).toBigInteger).toMap
    val c = Array.tabulate(d, d)((j, k) =>
      BigInt(cov.getOrElse(j * d + k, java.math.BigInteger.ZERO)))
    def matVec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(j => (0 until d).map(k => c(j)(k) * v(k)).sum)
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to dominantEigenIters) {
      val w = matVec(v)
      val m = w.map(_.abs).max
      if (m != 0) v = w.map(x => x * 1000000 / m) // truncating, == HUGEINT //
    }
    val vv = v.map(x => x * x).sum
    val cv = matVec(v)
    val vcv = (0 until d).map(j => v(j) * cv(j)).sum
    val lambda = if (vv == 0) BigInt(-1) else vcv / vv
    (0 until d).map(j =>
      (j.toLong, v(j).toLong, lambda.toLong))
      .toDF("dim", "v_micro", "lambda_scaled")
  }

  /** The q228 driver entry: ANN RECALL AUDIT — the standard quality
    * metric of an approximate index, as a first-class oracle-checked
    * table: per query, |top-10(LSH) ∩ top-10(brute)| and recall in
    * basis points. This is the number that justifies (or vetoes) the
    * q31 index parameters in production — previously only asserted in
    * specs, now under the driver hash via composition of the q30 and
    * q31 oracles (the q183 MRL-audit device applied to the index
    * itself).
    *
    * Scale shape: both inputs are top-k-bounded (queries x 10 rows);
    * the audit is a join + count over that bounded set.
    */
  private val bqQueries = 5
  private val bqK = 10

  /** The q299 driver entry: BINARY (SIGN) QUANTIZATION + HAMMING
    * RETRIEVAL AUDIT — the third leg of the quantization family:
    * int8 preserves magnitudes (q71), PQ preserves subspace shape
    * (q153), and sign bits keep ONE BIT per dimension — 64 bits per
    * vector here, a 256× compression over float32 — with Hamming
    * distance as the similarity proxy (the binary-quantization mode
    * every production vector store now ships, typically as a
    * prefilter before float re-rank). The audit measures exactly
    * what that buys: Hamming top-k per query vs the exact float
    * cosine top-k (q30), as recall plus the top/kth Hamming radii a
    * re-rank budget would be tuned from.
    *
    * Exactness: the word is Σ 1≪(i−1) over positive dims (bit 63's
    * two's-complement negativity is representation, not arithmetic —
    * both engines fold the same distinct powers); distances are
    * bit_count(xor) integers under a (hamming, vec_id) total order.
    *
    * Scale shape: 8-byte words ride a broadcast-queries × corpus
    * scan — the corpus vectors themselves never join; rank-≤-k
    * windows bound the shuffle at k rows per query.
    */
  def binaryQuantAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), expr(
        """aggregate(sequence(1, size(embedding)), CAST(0 AS BIGINT),
           (acc, i) -> acc + CASE
             WHEN element_at(embedding, i) > CAST(0 AS FLOAT)
             THEN SHIFTLEFT(CAST(1 AS BIGINT), i - 1)
             ELSE CAST(0 AS BIGINT) END)""").as("w"))
    val qw = words.orderBy(col("vec_id")).limit(bqQueries)
      .select(col("vec_id").as("q_id"), col("w").as("qw"))
    val topH = words.join(broadcast(qw), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("CAST(bit_count(w ^ qw) AS BIGINT)").as("hamming"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("hamming").asc, col("vec_id").asc)))
      .filter(col("rk") <= bqK)
    val overlap = annBrute(spark, sfDir, bqQueries, bqK)
      .select(col("q_id"), col("vec_id"))
      .join(topH.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    topH.groupBy(col("q_id"))
      .agg(min(col("hamming")).cast("long").as("best_hamming"),
        max(col("hamming")).cast("long").as("kth_hamming"))
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * lit(1000L)).cast("long")
          .as("recall_bp"),
        col("best_hamming"), col("kth_hamming"))
  }

  def annRecallAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val brute = annBrute(spark, sfDir).select(col("q_id"), col("vec_id"))
    val lsh = annLsh(spark, sfDir).select(col("q_id"), col("vec_id"))
    val overlap = brute.join(lsh, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    brute.select(col("q_id")).distinct()
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * lit(1000L)).cast("long")
          .as("recall_bp"))
  }

  /** Position-discount table for nDCG@10: floor(10⁶ / log2(rank+1))
    * for ranks 1..10, precomputed ONCE as integer constants shared
    * verbatim with the oracle — the q271 transcendental rule (q178's
    * lesson): neither engine ever evaluates a log, so there is no
    * float boundary to disagree on. None of the ten values sits
    * within 4·10⁻³ of an integer boundary (closest: rank 9 at
    * 301029.9957), so the constants are unambiguous.
    */
  private[graft] val ndcgGainMicro: Seq[Long] = Seq(
    1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)

  /** Ideal-DCG prefix sums: idcg(r) = Σ_{i<=r} gain(i) — the DCG of
    * packing all r relevant results at the top.
    */
  private[graft] val ndcgIdealMicro: Seq[Long] =
    ndcgGainMicro.scanLeft(0L)(_ + _).tail

  /** The q271 driver entry: nDCG@10 RETRIEVAL QUALITY AUDIT — the
    * position-weighted companion of q228's recall@10: recall says
    * whether the right neighbors are IN the top-10, nDCG says whether
    * they are EARLY (a hit at rank 1 is worth 1/log2(11) ≈ 3.5× a hit
    * at rank 10). Relevance is binary label agreement between query
    * and result vectors (the q228/q183 semantic ground truth); the
    * ranking audited is the exact brute-force cosine order, so the
    * score isolates EMBEDDING quality from index recall. DCG sums
    * rel·gain(rank) per query; IDCG is the prefix-sum of gains over
    * the query's n_rel hits (ideal = all hits packed at the top);
    * ndcg_micro = dcg·10⁶ DIV idcg, sentinel −1 for zero-hit queries
    * (0/0 has no honest value). Exact integers end to end.
    *
    * Scale shape: annBrute's broadcast-queries × corpus-scan plan is
    * the only corpus-touching stage; the audit itself joins a
    * Q·k-row frame (tiny, broadcast) against the label column and
    * reduces to Q rows.
    */
  def ndcgAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val gainArr = array(ndcgGainMicro.map(lit): _*)
    val idealArr = array(ndcgIdealMicro.map(lit): _*)
    annBrute(spark, sfDir)
      .join(labels.select(col("vec_id").as("q_id"),
        col("label").as("q_label")), Seq("q_id"))
      .join(labels.select(col("vec_id"), col("label").as("r_label")),
        Seq("vec_id"))
      .withColumn("rel",
        when(col("q_label") === col("r_label"), 1L).otherwise(0L))
      .groupBy(col("q_id"))
      .agg(sum(col("rel")).as("n_rel"),
        sum(col("rel") * element_at(gainArr, col("rk").cast("int")))
          .as("dcg_micro"))
      .select(col("q_id"), col("n_rel").cast("long").as("n_rel"),
        col("dcg_micro").cast("long").as("dcg_micro"),
        when(col("n_rel") > 0,
          element_at(idealArr, col("n_rel").cast("int")))
          .otherwise(0L).cast("long").as("idcg_micro"))
      .withColumn("ndcg_micro",
        when(col("n_rel") > 0,
          expr("CAST(dcg_micro * 1000000 DIV idcg_micro AS BIGINT)"))
          .otherwise(-1L).cast("long"))
  }

  /** The q387 driver entry: EMBEDDING ANISOTROPY AUDIT — the
    * representation-quality number (Ethayarajh 2019) checked before
    * trusting cosine anywhere downstream: anisotropic embeddings
    * cluster in a narrow cone, so the expected cosine between
    * RANDOM vectors is ≈ ‖mean‖² instead of ≈ 0, and every cosine
    * threshold in the stack (dedup, ANN, drift) silently shifts.
    * Over L2-normalized vectors: per-channel sums of PER-ELEMENT
    * micro floors (Σᵢ ⌊10⁶ xᵢ꜀⌋ — integer, summation-order-free,
    * the q372 discipline), then anisotropy_ppm =
    * Σ꜀ S꜀² · 10⁶ / (n²·10¹²) ≈ ‖mean vector‖² in ppm — all
    * products in DECIMAL(38), squares keep every division
    * nonneg-over-nonneg (no signed-truncation hazard). Also the
    * worst channel's |mean| in micro — the "one hot dimension"
    * tell.
    *
    * Scale shape: one posexplode pass into a 64-row channel
    * aggregate, then single-row arithmetic — the corpus is read
    * once and nothing fact-scale shuffles.
    */
  def anisotropyAudit(spark: SparkSession, sfDir: String): DataFrame =
    anisotropyAuditOn(Tables.load(spark, sfDir, "embeddings"))

  /** The q387 core over any frame with an `embedding` column — split
    * out so the spec can pin the isotropy endpoints (identical
    * vectors read ~10^6 ppm; sign-balanced vectors read ~0) through
    * the SAME plan.
    */
  def anisotropyAuditOn(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(Vectors.l2normalize(col("embedding")))
        .as(Seq("i", "x")))
      .select(col("i").cast("long").as("channel"),
        expr("CAST(floor(1000000.0 * x) AS BIGINT)").as("xm"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("xm")).cast("long").as("s_c"))
      .agg(max(col("n_vecs")).cast("long").as("n_vecs"),
        count(lit(1)).cast("long").as("dims"),
        sum(col("s_c").cast("decimal(38,0)") * col("s_c")).as("ssq"),
        max(abs(col("s_c"))).cast("long").as("max_abs_s"))
      .withColumn("anisotropy_ppm", expr(
        """CAST((CAST(ssq * 1000000 AS DECIMAL(38,0))
           - PMOD(CAST(ssq * 1000000 AS DECIMAL(38,0)),
             CAST(n_vecs AS DECIMAL(38,0)) * n_vecs * 1000000000000))
           / (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs * 1000000000000)
           AS BIGINT)"""))
      .withColumn("max_mean_channel_micro",
        expr("max_abs_s DIV n_vecs"))
      .drop("ssq", "max_abs_s")

  /** The q380 driver entry: MMR DIVERSIFIED TOP-K — the greedy
    * maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998)
    * every RAG retriever bolts onto plain top-k once it notices the
    * context window filling with five near-identical passages:
    * select iteratively, scoring each candidate by
    * λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s). Everything
    * runs in exact integers — sims floor to micro ONCE, λ = 7/10
    * is applied as integer tenths (score = 7·simq − 3·penalty), so
    * the greedy argmax and its (score desc, vec_id asc) tie rule
    * are engine-deterministic and the DuckDB oracle replays the
    * identical k-step selection as generated unrolled CTEs.
    *
    * Scale shape: relevance candidates come from the ANN/brute
    * top-`poolSize` (the production source is q32's IVF — this
    * composes with any (q_id, vec_id, cosine) pool); the greedy
    * loop runs k bounded iterations over the queries × poolSize
    * frame (pairwise sims are poolSize² per query, all broadcast-
    * scale), never over the corpus — the corpus is touched exactly
    * once, by the pool builder.
    */
  /** q380 default knobs — named so the oracle generator (unrolled
    * CTE count, pool size, lambda weights) interpolates the SAME
    * values the Spark defaults use.
    */
  val mmrNumQueries: Int = 5
  val mmrK: Int = 10
  val mmrPoolSize: Int = 50
  val mmrLamTenths: Int = 7

  def mmrTopK(spark: SparkSession, sfDir: String): DataFrame = {
    // the greedy selection collects the pairs frame
    // (numQueries·poolSize² rows) to the driver — knob-bounded at the
    // defaults (12,250 rows) but QUADRATIC in poolSize, so non-default
    // knobs must fail loudly instead of OOMing the driver (round-18
    // advice). 10M rows ≈ 320 MB of (long,long,long,long) tuples —
    // far under driver heap, far over any sensible MMR pool.
    val lam = mmrLamTenths.toLong
    val pool = annBrute(spark, sfDir, mmrNumQueries, mmrPoolSize)
      .select(col("q_id"), col("vec_id"),
        expr("CAST(floor(1000000.0 * cosine) AS BIGINT)").as("simq"))
      .localCheckpoint(true) // read by the pair builder + the collect
    val corpus = unitCorpus(spark, sfDir)
    val pairs = pool.select(col("q_id"), col("vec_id").as("a"))
      .join(pool.select(col("q_id"), col("vec_id").as("b")), Seq("q_id"))
      .where(col("a") =!= col("b"))
      .join(corpus.select(col("vec_id").as("a"), col("u").as("ua")),
        Seq("a"))
      .join(corpus.select(col("vec_id").as("b"), col("u").as("ub")),
        Seq("b"))
      .select(col("q_id"), col("a"), col("b"),
        floor(lit(1000000.0) * Vectors.dot(col("ua"), col("ub")))
          .cast("long").as("sim"))
    // GREEDY DRIVER-SIDE (round-18, guide §1.2 "the distributed
    // algorithm"): the k-step selection loop ran as k DataFrame
    // iterations — each a join + window + localCheckpoint job — over
    // frames bounded by the KNOBS, not the corpus (pool =
    // numQueries·poolSize rows, pairs = numQueries·poolSize² rows;
    // 250 / 12,250 at the defaults). The corpus-touching work (pool
    // builder, pairwise sims) stays in Spark; both bounded frames
    // collect under the bounded-domain rule (the q215/q214/BPE
    // precedent) and the greedy argmax runs driver-side on the SAME
    // exact integers — every score is lam·simq − (10−lam)·penalty in
    // Long arithmetic, so the selection and tie-break (score desc,
    // vec_id asc) are bit-identical to the iterative-DataFrame form
    // (SimilaritySpec pins the equivalence). sf0.1 A/B: 3.91 s quiet
    // → see OPTIMIZATION_r18.md.
    val poolRows = pool.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val simRows = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val simMap = simRows.groupBy(t => (t._1, t._2))
      .map { case (key, ts) => key -> ts.map(t => t._3 -> t._4).toMap }
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
    poolRows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (qId, cands) =>
      var selected = Vector.empty[Long]
      for (t <- 1 to math.min(mmrK, cands.length)) {
        val remaining = cands.filterNot(c => selected.contains(c._2))
        // penalty = max over selected of sim(cand -> sel); the
        // DataFrame form's inner join drops t>=2 candidates with no
        // pair row, which cannot happen (pairs covers all a != b
        // inside the pool) — replicated here as a plain max
        val scored = remaining.map { case (_, vecId, simq) =>
          val penalty =
            if (t == 1) 0L
            else selected.map(s => simMap((qId, vecId))(s)).max
          val score =
            if (t == 1) lam * simq
            else lam * simq - (10L - lam) * penalty
          (vecId, simq, penalty, score)
        }
        val pick = scored.minBy { case (vecId, _, _, score) =>
          (-score, vecId)
        }
        out += ((qId, pick._1, pick._2, pick._3, pick._4, t.toLong))
        selected :+= pick._1
      }
    }
    import spark.implicits._
    out.result()
      .toDF("q_id", "vec_id", "simq", "penalty", "score", "mmr_rank")
  }

  /** q396 default knobs — named so the oracle generator (per-dim
    * CTEs) interpolates the SAME values the Spark defaults use.
    */
  val mrlDims: Seq[Int] = Seq(8, 16, 32)
  val mrlQueries: Int = 5
  val mrlK: Int = 10

  /** The q396 driver entry: MATRYOSHKA TRUNCATION RECALL CURVE — the
    * dimension-ablation eval behind Matryoshka Representation
    * Learning deployments (Kusupati 2022; every "use the first d
    * dims at serve time" decision): for each prefix dimension d,
    * re-normalize the truncated vectors, rank the corpus per query
    * by truncated cosine, and report top-k recall against the
    * full-dimension exact top-k — the storage/recall tradeoff table
    * that picks the serving dimension. Completes the index-ablation
    * family on its missing axis: q299 ablates bits-per-value
    * (binary), q372 int8, q153 PQ codebooks — this ablates the
    * DIMENSIONS themselves.
    *
    * Determinism: per-element double normalize (the q30 device),
    * dot via the codegen'd element-order accumulator, scores floored
    * to micro BEFORE ranking so the (sim desc, vec_id asc) order is
    * integer-exact on both engines.
    *
    * Scale shape: queries broadcast; each arm is one corpus-linear
    * scoring pass + a per-query top-k rank (fixture-scale brute — at
    * 100 TB each arm serves from its own IVF/LSH index, q31/q32's
    * path, and THIS entry is the offline eval that validates those
    * truncated indexes, exactly like q329 validates full-dim ANN).
    */
  def matryoshkaRecall(
      spark: SparkSession, sfDir: String,
      dims: Seq[Int] = mrlDims): DataFrame = {
    require(dims.nonEmpty && dims == dims.sorted, "ascending dim grid")
    val emb = Tables.load(spark, sfDir, "embeddings")
      .localCheckpoint(true) // read by the truth arm + every dim arm
    def topkAt(d: Option[Int]): DataFrame = {
      def trunc(c: Column) = d.map(dd => slice(c, 1, dd)).getOrElse(c)
      val corpus = emb.select(col("vec_id"),
        Vectors.l2normalize(trunc(col("embedding"))).as("u"))
      val q = emb.orderBy(col("vec_id")).limit(mrlQueries)
        .select(col("vec_id").as("q_id"),
          Vectors.l2normalize(trunc(col("embedding"))).as("qv"))
      corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          floor(lit(1000000.0) * Vectors.dot(col("qv"), col("u")))
            .cast("long").as("sim_micro"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("sim_micro").desc, col("vec_id").asc)))
        .where(col("rk") <= mrlK)
    }
    val truth = topkAt(None)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      .localCheckpoint(true) // read by every dim arm's join
    dims.map { dd =>
      topkAt(Some(dd))
        .select(lit(dd.toLong).as("dim"), col("q_id"), col("vec_id"))
    }.reduce(_ unionByName _)
      .join(truth, Seq("q_id", "vec_id"), "left")
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n_ranked"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("k", lit(mrlK.toLong))
      .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_ranked"))
  }

  /** q398 default knobs — named so the oracle generator interpolates
    * the SAME values the Spark defaults use.
    */
  val jlOutDim: Int = 16
  val jlQueries: Int = 5
  val jlK: Int = 10

  /** The q398 driver entry: JOHNSON–LINDENSTRAUSS RANDOM-PROJECTION
    * DISTORTION AUDIT — the check run before trusting any
    * projected-space shortcut (coarse ANN routing, sketch-space
    * clustering, cheap pre-filters): project each evaluated
    * difference vector through a DETERMINISTIC Rademacher (±1)
    * matrix (Achlioptas 2003 — database-friendly JL; entries are
    * md5-parity signs, so the oracle replays the exact matrix) and
    * report per pair the squared-distance distortion
    * ‖P(a−b)‖²/d' vs ‖a−b‖² in ppm. The eval pair set is q30's
    * brute top-k per query — the pairs whose distances the ANN
    * stack actually consumes. JL says distortion concentrates near
    * 10⁶; the spread IS the audit.
    *
    * Determinism: P(a−b) by linearity (one projection of the
    * difference, never two), each output coordinate an
    * index-ordered fold (the q30 accumulation device), squares and
    * ONE division per pair, floored to ppm; a zero original
    * distance emits the 10⁶ identity by convention (never 0/0).
    *
    * Scale shape: pairs are numQueries·k (bounded); the projection
    * is row-local HOF arithmetic over the bounded (d'×d) sign grid
    * — no exchange beyond the pair join.
    */
  def jlDistortionAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pairs = annBrute(spark, sfDir, jlQueries, jlK)
      .select(col("q_id"), col("vec_id"))
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("ea")),
        Seq("q_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("eb")),
        Seq("vec_id"))
      .withColumn("d", expr(
        "zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"))
    val sign =
      """CASE WHEN CAST(conv(substring(md5(concat('jl:',
           CAST(j AS STRING), ':', CAST(i AS STRING))), 1, 8), 16, 10)
           AS BIGINT) % 2 = 0 THEN 1.0D ELSE -1.0D END"""
    pairs
      .withColumn("orig_sq", expr(
        "aggregate(d, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"))
      .withColumn("proj_sq", expr(
        s"""aggregate(transform(sequence(0, ${jlOutDim - 1}),
              j -> aggregate(sequence(1, size(d)), CAST(0.0 AS DOUBLE),
                (acc, i) -> acc + ($sign) * element_at(d, i))),
            CAST(0.0 AS DOUBLE), (acc, p) -> acc + p * p)"""))
      .select(col("q_id"), col("vec_id"),
        expr(s"""CASE WHEN orig_sq = 0.0 THEN CAST(1000000 AS BIGINT)
             ELSE CAST(floor(1000000.0 * (proj_sq / $jlOutDim) / orig_sq)
               AS BIGINT) END""").as("distortion_ppm"))
  }

  /** The q372 driver entry: INT8 QUANTIZATION ERROR AUDIT — the
    * per-channel report run before shipping a quantized embedding
    * index (4× smaller than fp32; q299's sign bits are the 32×
    * extreme): symmetric per-channel int8 with scale = maxabs/127,
    * q = floor(x·127/maxabs + 0.5) — no clamp needed because
    * |x| ≤ maxabs bounds q to [−127, 127] by construction — and the
    * reconstruction error |x − q·maxabs/127| floored to micro
    * PER ELEMENT before any sum (the q334 float discipline: a float
    * Σ would be summation-order-dependent; integer sums of floored
    * micros are order-free and hash-stable). Per channel: n, the
    * channel's maxabs in micro, total/max/mean reconstruction error
    * — the table that flags outlier-dominated channels where
    * per-channel symmetric int8 is NOT enough (the argument for
    * per-block scales).
    *
    * Scale shape: one posexplode pass computes the 64-row channel
    * maxabs; the second pass joins that broadcast dim and floors
    * per-element errors into a channel-domain aggregate — two
    * linear scans, no corpus-sized shuffle (the exchange carries 64
    * channels).
    */
  def int8QuantAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val elems = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i").cast("long").as("channel"),
        col("xf").cast("double").as("x"))
    val scales = elems.groupBy(col("channel"))
      .agg(max(abs(col("x"))).as("maxabs"))
    elems.join(broadcast(scales), Seq("channel"))
      .withColumn("err_micro", expr(
        """CAST(floor(1000000.0 * (CASE WHEN maxabs = 0.0 THEN 0.0
             ELSE abs(x - (floor(x * 127.0 / maxabs + 0.5)
                           * maxabs / 127.0)) END)) AS BIGINT)"""))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n"),
        expr("CAST(floor(1000000.0 * MAX(maxabs)) AS BIGINT)")
          .as("maxabs_micro"),
        sum(col("err_micro")).cast("long").as("total_err_micro"),
        max(col("err_micro")).cast("long").as("max_err_micro"))
      .withColumn("mean_err_nano",
        expr("total_err_micro * 1000 DIV n"))
  }
}
