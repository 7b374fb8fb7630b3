package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Empirical scaling probe for the sketch operators: build K× copies
  * of the sf0.1 documents/embeddings fixtures (Caesar-ciphered texts
  * — letters AND digits — / index-rotated vectors, so copies are NOT
  * near-dups of each other and pair counts stay realistic) and time
  * the production dedup/ANN paths at 1× vs K×. Near-linear wall growth is the pass criterion —
  * a quadratic operator shows up as ~K² immediately.
  *
  * Names are `SparkEntry.queries` entries, [[variants]] (which take
  * precedence) or [[ServeOnly]].
  *
  * Usage: runMain graft.tools.ScalingProbe <K> <name,name,...>
  */
object ScalingProbe {
  type Build = (SparkSession, String) => DataFrame

  /** The PQ serve-only probe, timed apart from the index build (main). */
  val ServeOnly = "q156_pq_serve_only"

  /** The calls that differ from their `SparkEntry.queries` entry on
    * the K× fixture. `nDocs`, the 1× document count, is read only by
    * the q371 re-keying.
    */
  def variants(nDocs: => Long): Map[String, Build] = Map(
    // the banded-LSH candidate path itself, which no registry entry calls
    "q24_embed_lsh" -> ((s: SparkSession, d: String) =>
      Dedup.embeddingPairsLsh(s, d)),
    // the documented scaling rule in action: bits sized to the
    // K× corpus (2^12 buckets) instead of the fixture default
    "q24_embed_lsh_12bit" -> ((s: SparkSession, d: String) =>
      Dedup.embeddingPairsLsh(s, d, bitsPerTable = 12)),
    // q155 probes at reduced rounds: the per-round cost is the
    // probe target (pair count + replace over the corpus); N just
    // multiplies it
    "q155_bpe_train" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d, rounds = 5)),
    // q157 probes at the same reduced rounds as q155; its delta
    // over q155 is the one-pass encode (scan → chained replaces)
    "q157_bpe_encode" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeEncode(s, d, rounds = 5)),
    // q158 at K× keeps 16 seeded centroids, so cells grow K× and
    // the within-cell quadratic shows if the blocker were broken;
    // production scales `clusters` with the corpus (n²/k rule)
    "q158_semdedup_64cell" -> ((s: SparkSession, d: String) =>
      Dedup.semDedup(s, d, clusters = 64)),
    // the ANN-composed mining entries are cell-keyed IVF block
    // products, the q158 law: per-anchor candidates ~
    // probes·n/clusters, so a FIXED 16-cell codebook grows the block
    // product with the corpus; production scales `clusters` with n
    // (n²/k), probed here by the 64-cell variants
    "q322_ann_hard_neg_64cell" -> ((s: SparkSession, d: String) =>
      Similarity.annHardNegatives(s, d, clusters = 64)),
    "q323_ann_bitext_64cell" -> ((s: SparkSession, d: String) =>
      Similarity.annBitextMine(s, d, clusters = 64)),
    // K-copy ids reach (K-1)*10^7 + 10^6 — past the default packed-
    // key domain, which raises loudly; the probe passes the wider
    // bound the guard asks for
    "q321_pref_pairs" -> ((s: SparkSession, d: String) =>
      Preference.preferencePairs(s, d, idBound = 10000000000L)),
    "q353_length_bias" -> ((s: SparkSession, d: String) =>
      Preference.lengthBiasAudit(s, d, idBound = 1000000000L)),
    // the probe's copies occupy disjoint id ranges (c*10^7 + orig),
    // which the operator's contiguity guard rejects BY DESIGN —
    // re-key densely (copy c -> [c*nDocs, (c+1)*nDocs)) so the
    // probe measures the draw/join/rank path, not the guard
    "q371_negative_samples" -> ((s: SparkSession, d: String) =>
      TrainingPrep.negativeSamplesOn(
        s.read.parquet(s"$d/documents.parquet")
          .select((expr("doc_id DIV 10000000") * lit(nDocs)
            + col("doc_id") % lit(10000000L)).cast("long").as("doc_id"),
            col("source")))))

  /** Each requested name with its build, in request order; builds
    * nothing. Fails listing every unknown name. [[ServeOnly]] is known
    * but not returned.
    */
  def resolve(names: Seq[String], variants: Map[String, Build],
      registry: Map[String, Build]): Seq[(String, Build)] = {
    val unknown = names.filterNot(n =>
      n == ServeOnly || variants.contains(n) || registry.contains(n))
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    names.filter(_ != ServeOnly).map(n => n -> variants.getOrElse(n, registry(n)))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScalingProbe <K> <name,name,...>")
    val k = args(0).toInt
    val names = args(1).split(",").toSeq
    val src = "/root/testdata/sf0.1"
    val big = "/tmp/graft-scale-probe"
    // the bench's core count (GraftSession.cores): the K-scaled
    // fixture is the right place to measure 8-vs-32-core scaling —
    // at plain sf0.1 the suite is fixed-overhead-bound and core
    // ratios read ~1 (the r18 scaling block's known blind spot)
    lazy val spark = graft.GraftSession.local(appName = "graft-scale")
    lazy val docs = spark.read.parquet(s"$src/documents.parquet")
    lazy val nDocs = docs.count()
    // resolves before the session starts or any fixture is written
    val probes = resolve(names, variants(nDocs), graft.SparkEntry.queries)
    spark.sparkContext.setLogLevel("ERROR")

    // K× table: copy c of the sf0.1 table is `copy(table, c)`; the
    // K copies are written as one table
    def replicate(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val t = spark.read.parquet(s"$src/$table.parquet")
      (0 until k).map(copy(t, _)).reduce(_ unionAll _).write.mode("overwrite")
        .parquet(s"$big/$table.parquet")
    }
    // copy c's Caesar cipher: each alphabet of `text` shifts by
    // (3c) mod its length — a bijection, injective across c < 26 for
    // letters and c < 10 for digits since gcd(3,26) = gcd(3,10) = 1
    def caesar(text: Column, c: Int, alphabets: String*): Column =
      translate(text, alphabets.mkString, alphabets.map { a =>
        val s = 3 * c % a.length
        a.drop(s) + a.take(s)
      }.mkString)
    val letters = "abcdefghijklmnopqrstuvwxyz"

    // K× documents: copy c Caesar-ciphers the TEXT, the same device
    // part/customer names use below.
    // Round-16 correction: the original device ROTATED each doc's
    // words, but a rotation keeps every 5-gram shingle except the
    // ~8 at the two junctions — cross-copy Jaccard ≈ (n−8)/n ≈
    // 0.85–0.97, so every copy family was a K-clique of TRUE
    // near-dups and the near-dup/CC operators' measured growth was
    // the quadratic TRUE-OUTPUT of that workload, not operator cost
    // (q392 read 7.4× at K=20 under rotation, the derivative of
    // K²/2 family pairs). Ciphering keeps within-copy organic dup
    // structure exactly (both members of an organic pair shift
    // identically) while making cross-copy shingle sets disjoint —
    // a bigger corpus means MORE DISTINCT documents, the probe's
    // stated contract. Word counts, lengths, and per-copy
    // distributions are unchanged (bijective on letters).
    // Round-16 advice: ALSO rotate digits — a letters-only cipher
    // leaves digit-only/non-Latin tokens invariant, so an all-numeric
    // 5-gram would be IDENTICAL in every copy and partially defeat
    // the cross-copy-disjoint contract on numeric-heavy documents.
    // Non-Latin scripts remain invariant (fixture text is ASCII;
    // noted limitation beside the c<26 caveat).
    replicate("documents") { (t, c) =>
      t.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        caesar(col("text"), c, letters, letters.toUpperCase, "0123456789")
          .as("text"),
        col("lang"), col("n_chars"), col("source"))
    }

    // K× embeddings: copy c rotates the vector by c positions
    replicate("embeddings") { (t, c) =>
      val v = col("embedding"); val n = size(v)
      t.select(
        (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
        concat(slice(v, lit(c % 64 + 1), n - lit(c % 64)),
          slice(v, lit(1), lit(c % 64))).as("embedding"),
        col("label"))
    }

    // K× events: copy c shifts TIME by c*35 days (shift expression
    // adapts to the fixture's observed ts encoding — raw long nanos
    // or native timestamp — like Tables.normalizeTs) and offsets
    // event/user ids — the
    // natural 100 TB growth axis is a longer retention window, so
    // copies occupy disjoint time ranges and per-bin/per-user density
    // stays constant (growing density instead would grow the true
    // OUTPUT of time-window operators quadratically, which measures
    // the workload, not the operator).
    replicate("events") { (t, c) =>
      val shifted =
        if (t.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          col("ts") + lit(c * 35L * 86400L * 1000000000L)
        else expr(s"ts + INTERVAL ${c * 35} DAYS")
      t.withColumn("event_id", col("event_id") + lit(c * 100000000L))
        .withColumn("user_id", col("user_id") + lit(c * 1000000L))
        .withColumn("ts", shifted)
    }

    // K× orders: disjoint key/customer ranges per copy
    replicate("orders") { (t, c) =>
      t.withColumn("o_orderkey", col("o_orderkey") + lit(c * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000L))
    }

    // K× customer / part: disjoint key ranges per copy (q108/q115
    // mutate and join on c_custkey; q111 blocks on p_name — names
    // repeat across copies, which is the realistic hard case for the
    // deletion-neighborhood join: candidate fan-out grows with K)
    // customer names Caesar-ciphered per copy like part (below): a
    // bigger registry means MORE DISTINCT people, not K copies of
    // the same person — repeating names would grow q283's TRUE match
    // output quadratically (workload, not operator)
    replicate("customer") { (t, c) =>
      t.withColumn("c_custkey", col("c_custkey") + lit(c * 1000000L))
        .withColumn("c_name", caesar(col("c_name"), c, letters))
    }
    // part names Caesar-cipher per copy (bijective translate keeps
    // within-copy edit distances intact, pushes cross-copy distances
    // far above the match threshold) — a bigger catalog means MORE
    // DISTINCT names, not the same 64 names at K× multiplicity;
    // repeating them K× would grow the TRUE output quadratically
    // (workload, not operator — the events-density rule above)
    replicate("part") { (t, c) =>
      t.withColumn("p_partkey", col("p_partkey") + lit(c * 1000000L))
        .withColumn("p_name", caesar(col("p_name"), c, letters))
    }

    // K× lineitem / supplier: key shifts aligned with orders/customer
    // so joins stay consistent; nationkeys untouched — the q124 graph
    // keeps its 25 nodes while edge weights grow K× (more trade,
    // same nations — the realistic growth axis)
    replicate("lineitem") { (t, c) =>
      t.withColumn("l_orderkey", col("l_orderkey") + lit(c * 100000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * 1000000L))
    }
    replicate("supplier") { (t, c) =>
      t.withColumn("s_suppkey", col("s_suppkey") + lit(c * 1000000L))
    }
    // nation / region are FIXED dims (25 / 5 rows at any SF): copy
    // them through unreplicated so FK-closure operators (q128) run
    for (t <- Seq("nation", "region"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$big/$t.parquet")

    def time(name: String)(f: => DataFrame): Double = {
      val s = graft.Bench.timeNoop(spark)(f)
      println(f"[scale] $name%-28s $s%8.2f s")
      s
    }

    println(s"[scale] corpus: ${nDocs} docs x1 vs x$k")
    // warm-up
    graft.operators.Dedup.exact(spark, src).write.format("noop").mode("overwrite").save()
    val ratios = probes.map { case (name, q) =>
      val t1 = time(s"$name @1x")(q(spark, src))
      val tk = time(s"$name @${k}x")(q(spark, big))
      val r = tk / t1
      println(f"[scale] $name%-28s ratio ${r}%6.2f (linear=$k, quadratic=${k * k})")
      name -> r
    }
    // PQ SERVE-ONLY probe: q156 above times build+serve together, so
    // the serve path's own scaling (the per-batch cost a deployment
    // pays forever) is masked by the one-time build. Here the index
    // is built OUTSIDE the timed region for both corpora and only
    // servePq runs on the clock — the ratio isolates the ADC scan
    // over a codes file grown Kx against a fixed 5-query batch.
    val serveOnly =
      if (!names.contains(ServeOnly)) Seq.empty
      else {
        def timedServe(d: String, label: String): Double = {
          val idx = s"/tmp/graft-scale-pq-$label"
          val (codes, cents) = graft.operators.Similarity.pqIndex(spark, d)
          codes.write.mode("overwrite").parquet(s"$idx/codes")
          cents.write.mode("overwrite").parquet(s"$idx/books")
          time(s"q156_pq_serve_only @$label")(
            graft.operators.Similarity.servePq(spark, s"$idx/codes",
              s"$idx/books", graft.operators.Similarity.queries(spark, d, 5),
              k = 10))
        }
        val t1 = timedServe(src, "1x")
        val tk = timedServe(big, s"${k}x")
        val r = tk / t1
        println(f"[scale] q156_pq_serve_only          ratio ${r}%6.2f (linear=$k, quadratic=${k * k})")
        Seq("q156_pq_serve_only" -> r)
      }
    println((ratios ++ serveOnly).map { case (n, r) => f"$n=$r%.2f" }.mkString("[scale] RATIOS ", " ", ""))
    spark.stop()
  }
}
