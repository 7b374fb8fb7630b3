package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Synthetic docs with KNOWN duplicate structure: 0/1 identical,
    * 2 a near-dup of 0 (one word changed), 3 unrelated.
    */
  def docsFixture = {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    Seq((0L, base), (1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    docsFixture.createOrReplaceTempView("documents_tmp")
    val got = docsFixture
      .select(col("doc_id"), md5(graft.operators.TextAnalysis.normalizedText(col("text"))).as("h"))
      .groupBy("h").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("exact dedup normalizes case and whitespace") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world "), (3L, "different"))
      .toDF("doc_id", "text")
    val groups = df
      .groupBy(md5(graft.operators.TextAnalysis.normalizedText(col("text"))))
      .count().collect().map(_.getLong(1)).sorted
    assert(groups.toSeq == Seq(1L, 2L))
  }

  test("shingles produce distinct n-grams") {
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, 5).collect().map(_.getString(1)).sorted
    assert(sh.toSeq == Seq("a b c d e", "b c d e f"))
  }

  test("docs shorter than n words yield no shingles") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.shingles(df, 5).count() == 0)
    assert(Dedup.shingleHashes(df, 5).count() == 0)
  }

  test("hashed shingles agree with string shingles (count and collisions)") {
    val df = docsFixture
    val strings = Dedup.shingles(df, 5).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashes = Dedup.shingleHashes(df, 5)
      .distinct().groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical distinct counts per doc = no collisions, same windows
    assert(strings == hashes)
    // identical docs produce identical hash sets
    val h0 = Dedup.shingleHashes(df.filter($"doc_id" === 0L), 5)
      .select("sh").collect().map(_.getLong(0)).toSet
    val h1 = Dedup.shingleHashes(df.filter($"doc_id" === 1L), 5)
      .select("sh").collect().map(_.getLong(0)).toSet
    assert(h0 == h1)
  }

  test("ngram jaccard finds identical and near-dup pairs with exact scores") {
    docsFixture.write.mode("overwrite").parquet("/tmp/graft-dedup-test/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(spark, "/tmp/graft-dedup-test", n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sortBy(p => (p._1, p._2))
    // identical pair (0,1): jaccard 1.0
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 1 && j == 1.0 })
    // near pair (0,2) and (1,2): one changed word kills 5 of 56 shingles
    // |A|=|B|=56, common=51, union=61 → 51/61
    val near = pairs.filter { case (a, b, _) => (a, b) == (0L, 2L) || (a, b) == (1L, 2L) }
    assert(near.length == 2)
    near.foreach { case (_, _, j) => assert(math.abs(j - 51.0 / 61.0) < 1e-12) }
    // unrelated doc 3 appears in no pair
    assert(!pairs.exists { case (a, b, _) => a == 3 || b == 3 })
  }

  test("posting-list cap kills the hot-shingle pair explosion, keeps true near-dups") {
    // 30 docs sharing ONE boilerplate shingle (plus unique tails) and
    // an identical pair (100, 101) that also carries the boilerplate.
    val hot = "c1 c2 c3 c4 c5"
    val same = s"$hot s1 s2 s3 s4 s5 s6"
    val docs = (0 until 30).map(i =>
      (i.toLong, s"$hot u${i}a u${i}b u${i}c u${i}d u${i}e")) ++
      Seq((100L, same), (101L, same))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft-dedup-cap/documents.parquet")
    // uncapped at threshold 0: every one of the 32 docs pairs with
    // every other through the single hot shingle — C(32,2) = 496
    val uncapped = Dedup.ngramJaccardPairs(spark, "/tmp/graft-dedup-cap",
      n = 5, threshold = 0.0, maxPostingLen = Int.MaxValue).count()
    assert(uncapped == 496L)
    // capped (stop-shingle dropped): only genuinely similar docs pair
    val capped = Dedup.ngramJaccardPairs(spark, "/tmp/graft-dedup-cap",
      n = 5, threshold = 0.0, maxPostingLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(capped.keySet == Set((100L, 101L)))
    // identical docs: all surviving (non-stop) shingles shared → 1.0
    assert(capped((100L, 101L)) == 1.0)
  }

  test("minhash LSH finds the same dup pairs as exact jaccard at high threshold") {
    val pairs = Dedup.minhashLshPairs(spark, "/tmp/graft-dedup-test", n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)) && keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(!keys.exists { case (a, b) => a == 3 || b == 3 })
    // identical docs estimate jaccard 1.0 exactly
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    // near-dup estimate within 0.2 of true 51/61 ≈ 0.836 (64 hashes)
    val est = pairs.find(p => (p._1, p._2) == (0L, 2L)).get._3
    assert(math.abs(est - 51.0 / 61.0) < 0.2, s"estimate $est")
  }

  test("verified minhash LSH returns EXACT jaccard scores equal to the exhaustive path") {
    val exact = Dedup.ngramJaccardPairs(spark, "/tmp/graft-dedup-test", n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val verified = Dedup.minhashLshPairsVerified(spark, "/tmp/graft-dedup-test", n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // complete recall on this fixture + exact verification → identical
    assert(verified == exact)
  }

  test("LSH banded recall is complete at fixture scale (q220/q222 oracle precondition)") {
    // round-11 advice: q220/q222 compose on minhashLshPairsVerified
    // while their oracles cluster the EXHAUSTIVE all-pairs truth —
    // equality rests on banded recall at threshold 0.5 being complete
    // on the fixture. Pin it: the LSH-verified pair set must equal
    // the exhaustive n-gram Jaccard pair set on the real documents
    // table, so a banding-parameter or fixture change that opens a
    // recall gap fails HERE, not as a silent oracle divergence (or
    // worse, an aligned miss on both sides).
    val exact = Dedup.ngramJaccardPairs(spark, SparkTestSession.sf,
        n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairsVerified(spark, SparkTestSession.sf,
        n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"LSH recall gap: missing=${(exact -- lsh).take(5)} " +
        s"extra=${(lsh -- exact).take(5)}")
    assert(exact.nonEmpty, "fixture has no near-dup pairs at 0.5 — recall pin is vacuous")
  }

  test("bloom decontamination: no false negatives, funnel consistent with the exact join (q237)") {
    val row = Dedup.bloomDecontaminate(spark, SparkTestSession.sf).head()
    val (nEval, nTrain, nCand, nTrue, fp) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4))
    assert(nEval > 0 && nTrain > 0)
    // Bloom admits every true hit (no false negatives) and the
    // candidate set sits between truth and everything
    assert(nTrue <= nCand && nCand <= nTrain)
    assert(fp >= 0L && fp < 1000000L)
    // independent recompute of the true-hit count: raw train gram
    // instances joining the distinct eval gram set
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis.normalizedText
    val docs = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "documents")
    def grams(df: org.apache.spark.sql.DataFrame) = {
      val w = split(normalizedText(col("text")), " ")
      df.select(col("doc_id"), w.as("w")).where(size(col("w")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 2),
          i => array_join(slice(col("w"), i, lit(3)), " "))).as("g"))
    }
    val want = grams(docs.filter(col("doc_id") % 97 =!= 0))
      .join(grams(docs.filter(col("doc_id") % 97 === 0)).distinct(), "g")
      .count()
    assert(nTrue == want)
    assert(nTrue > 0, "fixture eval slice shares no grams — funnel is vacuous")
  }

  test("cdc chunking: shared passages chunk identically at different offsets (q239)") {
    val rnd = new scala.util.Random(99)
    def noise(n: Int) = (0 until n)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // a long shared passage behind DIFFERENT-length prefixes: byte
    // offsets differ, content-defined boundaries inside the passage
    // agree -> interior chunks duplicate across the two docs
    val passage = noise(400)
    val docA = noise(37) + passage
    val docB = noise(211) + passage
    val got = Dedup.cdcChunkStatsOn(
      Seq((1L, "s", docA), (2L, "s", docB))
        .toDF("doc_id", "source", "text")).head()
    assert(got.getLong(3) > 0,
      "offset-shifted shared passage produced no duplicate chunks")
    // identical docs: every chunk of the second is a duplicate
    val twin = Dedup.cdcChunkStatsOn(
      Seq((1L, "s", docA), (2L, "s", docA))
        .toDF("doc_id", "source", "text")).head()
    assert(twin.getLong(1) == 2 * twin.getLong(2))
    assert(twin.getLong(3) == twin.getLong(2))
    // chunks tile the text exactly: total chars conserved
    val one = Dedup.cdcChunkStatsOn(
      Seq((1L, "s", docA)).toDF("doc_id", "source", "text")).head()
    assert(one.getLong(5) * one.getLong(1) / 1000000 <= docA.length)
  }

  test("cdc chunking: compiled expression chunks byte-identically to the SQL HOF twin") {
    // the SQL higher-order-function form the round-19 CdcChunkStrings
    // expression replaced — kept VERBATIM as the differential oracle
    val w = Dedup.CdcWindow
    def sqlChunks(docs: org.apache.spark.sql.DataFrame) = docs
      .where(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"),
        expr(s"""CASE WHEN length(text) >= $w THEN
            filter(transform(sequence($w, length(text)),
              p -> CASE WHEN conv(substring(md5(substring(
                     text, p - ${w - 1}, $w)), 1, 4), 16, 10)
                   % ${Dedup.CdcBoundaryRate} = 0 THEN p END),
              x -> x IS NOT NULL)
          ELSE array() END""").as("bnd"))
      .select(col("doc_id"), col("text"),
        expr("array_distinct(concat(bnd, array(length(text))))").as("ends"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(ends)),
             i -> substring(text,
               CASE WHEN i = 1 THEN 1
                 ELSE element_at(ends, i - 1) + 1 END,
               element_at(ends, i) -
                 CASE WHEN i = 1 THEN 0
                   ELSE element_at(ends, i - 1) END))""")))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"))
    def exprChunks(docs: org.apache.spark.sql.DataFrame) = docs
      .where(length(col("text")) >= 1)
      .select(col("doc_id"), posexplode(
        graft.functions.TextExpressions.cdc_chunk_strings(
          col("text"), Dedup.CdcWindow, Dedup.CdcBoundaryRate)))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"))
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = (0 until n)
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // adversarial literals: multi-byte chars (2/3/4-byte UTF-8, incl.
    // a supplementary code point) around and inside windows, short
    // (< w) and exactly-w texts, and a long random body
    val docs = Seq(
      (1L, noise(500)),
      (2L, "über-straße " + noise(60) + " Ø" + noise(30)),
      (3L, "日本語のテキスト断片" + noise(40) + "中文片段"),
      (4L, "emoji 😀 inside " + noise(50) + " 🚀 tail"),
      (5L, "short"),
      (6L, noise(w)),
      (7L, "ü"),
      (8L, noise(w - 1) + "é")
    ).toDF("doc_id", "text")
    val a = exprChunks(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val b = sqlChunks(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(a.toSeq == b.toSeq)
    // malformed UTF-8, built as bytes: a lone continuation byte, an
    // overlong pair, and a 3-byte lead truncated by the end of the
    // string. Compared as hex bytes — decoding to a Java String folds
    // every bad sequence into U+FFFD and would hide a misstep.
    def hexOf(t: String) = t.getBytes("UTF-8").map("%02X".format(_)).mkString
    val inputs = Seq(
      11L -> ("80" + hexOf(noise(40))),
      12L -> (hexOf(noise(20)) + "C0AF" + hexOf(noise(30))),
      13L -> (hexOf(noise(30)) + "E282"))
    val bad = inputs.toDF("doc_id", "h")
      .select(col("doc_id"), expr("CAST(unhex(h) AS STRING)").as("text"))
    def hexChunks(chunks: org.apache.spark.sql.DataFrame) = chunks
      .select(col("doc_id"), col("pos"), hex(col("chunk").cast("binary")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val am = hexChunks(exprChunks(bad))
    val bm = hexChunks(sqlChunks(bad))
    assert(am.map(c => (c._1, c._2)) == bm.map(c => (c._1, c._2)))
    // the chunks tile each input exactly, byte for byte
    inputs.foreach { case (id, h) =>
      assert(am.filter(_._1 == id).map(_._3).mkString == h, s"doc $id")
    }
    // Spark's substring copies the missing bytes of the truncated
    // sequence from past the end of the string, so only the twin's
    // last doc-13 chunk may carry bytes beyond the input
    val last13 = (13L, am.filter(_._1 == 13L).map(_._2).max)
    am.zip(bm).foreach { case (x, y) =>
      if ((x._1, x._2) == last13) assert(y._3.startsWith(x._3), s"$x vs $y")
      else assert(x == y)
    }
    // and on the fixture corpus itself (boilerplate-injected q239 form)
    val fx = graft.sources.Tables.load(spark, SparkTestSession.sf, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val af = exprChunks(fx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val bf = sqlChunks(fx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(af.toSeq == bf.toSeq)
  }

  test("cdc provenance: boilerplate-sharing docs pair through shared chunks (q248)") {
    val got = Dedup.cdcProvenance(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    got.foreach { case ((a, b), n) => assert(a < b && n >= 1) }
    // docs sharing the injected header (% 3 == 0) or footer (% 5 == 0)
    // should dominate the pair set — at least one such pair exists and
    // shares a >= 16-char chunk by construction
    assert(got.keys.exists { case (a, b) =>
      (a % 3 == 0 && b % 3 == 0) || (a % 5 == 0 && b % 5 == 0) },
      "no boilerplate-sharing pair surfaced")
  }

  test("containment: planted container pairs directed, resemblance stays low (q240)") {
    val got = Dedup.containmentPairs(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty)
    // the planted (doc, doc+1) -> container pairs exist with near-total
    // containment
    val containerIds = got.keys.map(_._2).filter(_ >= Dedup.ContainOffset)
    assert(containerIds.nonEmpty, "planted containers produced no pairs")
    containerIds.foreach { c =>
      val a = c - Dedup.ContainOffset
      assert(got.contains((a, c)), s"doc $a missing from its container")
      assert(got((a, c)) >= 900000L)
    }
    // directionality: asymmetric pairs exist — contained docs that
    // score in their container while the container does not score
    // back (a container DOES legitimately score back when its two
    // members are near-duplicates of each other: its shingle union
    // collapses onto one member, so only SOME pairs are asymmetric)
    val asymmetric = got.keys.count { case (x, y) =>
      !got.contains((y, x)) }
    assert(asymmetric > 0, "no asymmetric containment pairs — directed emit is vacuous")
  }

  test("mergeable MinHashAgg equals the 64-column SQL signature path") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = docsFixture
    val sqlSig = Dedup.minhashSignatures(docs, 5)
      .collect()
      .map(r => r.getLong(0) -> (1 to Dedup.numHashes).map(r.getLong).toSeq)
      .toMap
    val sh = Dedup.shingleHashes(docs, 5)
      .as[(Long, Long)]
    val aggSig = sh.groupByKey(_._1)
      .agg(new Dedup.MinHashAgg().toColumn.name("sig"))
      .collect()
      .map { case (id, sig) => id -> sig.toSeq }
      .toMap
    assert(aggSig == sqlSig)
  }

  test("incremental minhash equals the full run restricted to new-doc pairs") {
    val all = docsFixture
    val oldDocs = all.filter($"doc_id".isin(0L, 3L))
    val newDocs = all.filter($"doc_id".isin(1L, 2L))
    val existingSig = Dedup.minhashSignatures(oldDocs, 5)
    val incremental = Dedup.minhashIncrementalPairs(newDocs, existingSig)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = Dedup.minhashLshPairs(spark, "/tmp/graft-dedup-test", n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val newIds = Set(1L, 2L)
    val expected = full.filter { case ((a, b), _) => newIds(a) || newIds(b) }
    assert(incremental == expected)
    // and it never regenerates old-only pairs
    assert(incremental.keys.forall { case (a, b) => newIds(a) || newIds(b) })
  }

  test("simhash: identical docs distance 0; near-dups close; unrelated far") {
    val pairs = Dedup.simhashPairs(spark, "/tmp/graft-dedup-test", maxDist = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) == 0)
    assert(pairs((0L, 2L)) < 16, s"near-dup hamming ${pairs((0L, 2L))}")
    // unrelated pairs, if blocked together at all, must be far
    pairs.filter { case ((a, b), _) => b == 3L || a == 3L }
      .foreach { case (_, d) => assert(d > 16) }
  }

  test("embedding near-dup pairs: identical vectors cosine 1.0") {
    val v = Array(1.0f, 2.0f, 3.0f)
    Seq((0L, v, 0), (1L, v, 0), (2L, Array(-3.0f, 0.1f, 9.9f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft-embed-test/embeddings.parquet")
    val pairs = Dedup.embeddingPairs(spark, "/tmp/graft-embed-test", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    assert(pairs.head._1 == 0 && pairs.head._2 == 1)
    assert(math.abs(pairs.head._3 - 1.0) < 1e-12)
  }

  test("LSH embedding near-dup agrees with the exact cartesian oracle on planted dups") {
    // 300 random 32-dim vectors (pairwise cosine far below threshold)
    // plus 8 planted near-dups at cosine ~0.999. The LSH path must
    // return exactly the oracle's pairs — same ids, same cosines
    // (verification uses the identical DotProduct, so scores are
    // bit-equal, not approximate).
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec(), 0))
    val planted = (0 until 8).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (2000L + i, v, 1)
    }
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft-embed-lsh-test/embeddings.parquet")
    val oracle = Dedup.embeddingPairs(spark, "/tmp/graft-embed-lsh-test", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingPairsLsh(spark, "/tmp/graft-embed-lsh-test", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(oracle.size >= 8, s"fixture must plant dups, got ${oracle.size}")
    assert(lsh == oracle)
  }

  test("LSH near-dup with corpus-sized buckets (12-bit) still matches the oracle") {
    // the scaling knob (more bucket bits for bigger corpora) must not
    // silently cost recall: at 12 bits x 16 tables, planted-pair miss
    // probability is ~1e-6 at cosine 0.99
    val oracle = Dedup.embeddingPairs(spark, "/tmp/graft-embed-lsh-test", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val scaled = Dedup.embeddingPairsLsh(spark, "/tmp/graft-embed-lsh-test",
      threshold = 0.95, bitsPerTable = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scaled == oracle)
  }

  test("planted q24 corpus yields exactly one pair per planted copy, all over threshold") {
    val sf = "/root/testdata/sf0.001"
    val pairs = Dedup.embeddingNearDupPlanted(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every 10th of the 500 fixture vectors gets a copy → 50 pairs
    assert(pairs.length == 50, s"got ${pairs.length}")
    pairs.foreach { case (a, b, cos) =>
      assert(b == a + Dedup.plantIdOffset, s"unexpected pair ($a,$b)")
      assert(a % Dedup.plantEvery == 0)
      assert(cos >= 0.95 && cos < 1.0, s"cosine $cos")
    }
  }

  test("incremental VERIFIED equals the exhaustive truth restricted to the new batch") {
    val sf = "/root/testdata/sf0.001"
    val newMod = 5
    val exhaustive = Dedup.ngramJaccardPairs(spark, sf, n = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap.filter { case ((a, b), _) => a % newMod == 0 || b % newMod == 0 }
    val incremental = Dedup.minhashIncrementalVerified(spark, sf, newModulus = newMod)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(incremental == exhaustive)
    assert(incremental.nonEmpty, "fixture must produce pairs touching the new batch")
  }

  /** Parquet locations of every file scan in a frame's optimized plan. */
  private def scanLocations(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }

  test("q46 persisted path: banding reads no document text, rows equal q45") {
    val sf = "/root/testdata/sf0.001"
    val sigPath = java.nio.file.Files
      .createTempDirectory("graft_sig_spec").toString + "/sig"
    try {
      Dedup.persistHistorySignatures(spark, sf, sigPath)

      // the new-batch signature build scans documents exactly once...
      val newSigScans = scanLocations(Dedup.newBatchSignatures(spark, sf))
      assert(newSigScans.count(_.contains("documents")) == 1,
        s"new-batch signatures should scan documents once: $newSigScans")

      // ...and the banding/candidate subtree reads document TEXT zero
      // times: its only parquet scan is the persisted signature file
      // (history never re-shingled — the daily-ingest contract)
      val cand = Dedup.persistedCandidates(spark, sf, sigPath)
      val candScans = scanLocations(cand)
      assert(candScans.count(_.contains("documents")) == 0,
        s"candidate subtree must not scan documents: $candScans")
      assert(candScans.count(_.contains(sigPath)) == 1,
        s"candidate subtree should read the signature parquet once: $candScans")

      // identical output contract as the in-session incremental (q45)
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))
      val q45 = Dedup.minhashIncrementalVerified(spark, sf)
        .collect().map(key).toMap
      val q46 = Dedup.minhashIncrementalPersisted(spark, sf)
        .collect().map(key).toMap
      assert(q46 == q45)
      assert(q46.nonEmpty, "fixture must produce pairs touching the new batch")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(sigPath).getParentFile)
  }

  test("decontamination: pairs equal the string-shingle truth; eval side broadcasts") {
    val sf = "/root/testdata/sf0.001"
    val df = Dedup.decontaminationPairs(spark, sf, n = 3)

    // the corpus-side gram stream must meet the eval grams via a
    // broadcast join — a sort-merge exchange here would shuffle the
    // whole corpus against a benchmark suite thousandths its size
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)

    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val ev = Dedup.shingles(docs.filter(col("doc_id") % 97 === 0), 3)
      .withColumnRenamed("doc_id", "eval_id")
    val tr = Dedup.shingles(docs.filter(col("doc_id") % 97 =!= 0), 3)
      .withColumnRenamed("doc_id", "train_id")
    val truth = tr.join(ev, "shingle")
      .groupBy("train_id", "eval_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == truth)
    assert(got.nonEmpty, "fixture must contain natural 3-gram overlap")
    // no eval doc may appear on the train side of any pair
    assert(got.keys.forall { case (t, _) => t % 97 != 0 })
  }

  test("reliable checkpoint mode yields identical component labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(pairs, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == reliable)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components merge transitive near-dup chains") {
    // chain 1-2, 2-3 (no 1-3 edge) plus isolated pair 10-11: min-label
    // propagation must put {1,2,3} in one component
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("nearDupSurvivors keeps exactly one doc per near-dup cluster") {
    // docsFixture: 0,1 identical; 2 near-dup of both; 3 unrelated →
    // cluster {0,1,2} keeps 0; 3 untouched (never in a pair)
    val survivors = Dedup.nearDupSurvivors(spark, "/tmp/graft-dedup-test")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 3L))
  }

  test("line dedup drops corpus-repeated lines, keeps prose in order") {
    val sf = SparkTestSession.sf
    val rows = Dedup.lineDedup(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == docs.keySet, "every document survives (maybe empty)")
    // boilerplate never survives into any cleaned text
    rows.values.foreach { case (t, _, _) =>
      assert(!t.contains(Dedup.boilerplateHeader))
      assert(!t.contains(Dedup.boilerplateFooter))
    }
    // docs carrying both injections drop at least those two lines
    rows.filter(k => k._1 % 15 == 0).foreach { case (id, (_, _, dropped)) =>
      assert(dropped >= 2, s"doc $id should drop header+footer")
    }
    // an untouched doc reassembles to its exact original text: chunks
    // joined by single space reproduce the single-space word stream
    val clean = rows.collect {
      case (id, (t, _, 0L)) if id % 3 != 0 && id % 5 != 0 => id -> t
    }
    assert(clean.nonEmpty, "fixture must contain untouched docs")
    clean.foreach { case (id, t) => assert(t == docs(id), s"doc $id mangled") }
  }

  test("line dedup's count exchange carries digests, not line text") {
    // the occurrence-count aggregate must group on the 16-byte md5 —
    // no `line` attribute may appear in its HashAggregate keys
    val plan = Dedup.lineDedup(spark, SparkTestSession.sf)
      .queryExecution.executedPlan.toString
    // the projection feeding the count exchange prunes to ONLY the
    // md5 grouping expression (text column gone before the shuffle)
    assert(plan.linesIterator.exists(
      _.matches(""".*Project \[md5\(.*\) AS _groupingexpression#\d+\]\s*""")),
      s"count input should project down to the md5 digest alone:\n$plan")
    // and no partial-count aggregate row carries the line attribute
    val partials = plan.linesIterator
      .filter(l => l.contains("partial_count") &&
        l.contains("_groupingexpression")).toSeq
    assert(partials.nonEmpty, s"no partial count over digest keys:\n$plan")
    assert(partials.forall(!_.contains("line#")),
      s"count partials must not carry line text:\n$plan")
  }

  test("fuzzy linkage: deletion-neighborhood blocking is complete vs brute force") {
    import graft.sources.Tables
    val sf = SparkTestSession.sf
    val got = graft.operators.Dedup.fuzzyLinkage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force ground truth on the fixture
    val clean = Tables.load(spark, sf, "part")
      .select(col("p_partkey"), col("p_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i max j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = (d(i - 1)(j) + 1) min (d(i)(j - 1) + 1) min
          (d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val dirty = clean.filter(_._1 % 13 == 0).map { case (k, n) =>
      val typo = (k % 3) match {
        case 0 => "#" + n.drop(1)
        case 1 => "#" + n
        case _ => n.drop(1)
      }
      (k + 100000L, typo)
    }
    val want = (for {
      (did, dn) <- dirty; (cid, cn) <- clean
      d = lev(dn, cn) if d <= 1
    } yield (did, cid, d.toLong)).toSet
    assert(want.nonEmpty && got == want,
      s"blocked=${got.size} brute=${want.size} missing=${(want -- got).take(3)}")
  }

  test("q297 soft-dedup weights: cluster mass law holds; survivors of q44 carry their cluster's weight") {
    val rows = graft.operators.Dedup
      .softDedupWeights(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet").count()
    assert(rows.length.toLong == nDocs, "every doc gets a weight")
    // weight law: weight = 10^6 DIV size, and each cluster's total
    // mass is size * (10^6 DIV size) <= 10^6 (one-doc budget)
    rows.foreach { case (_, _, s, w) => assert(w == 1000000L / s) }
    rows.groupBy(_._2).foreach { case (_, g) =>
      val s = g.head._3
      assert(g.length.toLong == s, "cluster_size must equal membership")
      assert(s * (1000000L / s) <= 1000000L)
    }
    // non-trivial clusters exist and singletons keep full weight
    assert(rows.exists(_._3 > 1L) && rows.exists(_._4 == 1000000L))
    // consistency with q44: survivors are exactly the cluster reps
    val survivors = graft.operators.Dedup
      .nearDupSurvivors(spark, SparkTestSession.sf).collect()
      .map(_.getLong(0)).toSet
    assert(rows.filter(r => r._1 == r._2).map(_._1).toSet == survivors)
  }

  test("q303 contrastive batches: cluster-disjoint by construction; sizes balanced") {
    val rows = graft.operators.Dedup
      .contrastiveBatches(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val nDocs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs)
    // precondition: the largest near-dup cluster fits under the
    // batch count — then disjointness is guaranteed
    val clusters = graft.operators.Dedup
      .softDedupWeights(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val maxCluster = clusters.map(_._2).max
    assert(maxCluster <= rows.length.toLong,
      s"precondition: max cluster $maxCluster vs ${rows.length} batches")
    rows.foreach { case (b, n, nc, _, coll) =>
      assert(coll == 0L && nc == n, s"batch $b has a near-dup collision")
    }
    // round-robin balance: batch sizes within one of each other
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1L)
  }

  test("q298 stratified group k-fold: cluster-atomic, count-balanced per stratum, all folds live") {
    val rows = graft.operators.Dedup
      .stratifiedGroupKFold(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val nDocs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet").count()
    assert(rows.length.toLong == nDocs)
    // leakage-freedom: one fold per cluster
    rows.groupBy(_._2).foreach { case (c, g) =>
      assert(g.map(_._4).distinct.length == 1, s"cluster $c split")
      assert(g.map(_._3).distinct.length == 1, s"cluster $c stratum")
    }
    // per stratum, cluster counts per fold balanced within one
    val byStratum = rows.map(r => (r._3, r._2, r._4)).distinct
      .groupBy(_._1)
    byStratum.foreach { case (s, g) =>
      val perFold = g.groupBy(_._3).view.mapValues(_.size).toMap
      val counts = (0L until 5L).map(f => perFold.getOrElse(f, 0))
      assert(counts.max - counts.min <= 1, s"stratum $s unbalanced: $counts")
    }
    assert(rows.map(_._4).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(byStratum.size > 1, "strata must vary")
  }

  test("q283 Fellegi-Sunter: blocked scoring equals a brute-force replay; all verdicts exercised") {
    import graft.sources.Tables
    val sf = SparkTestSession.sf
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i max j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = (d(i - 1)(j) + 1) min (d(i)(j - 1) + 1) min
          (d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val custs = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val clean = custs.map { case (k, n, nat, c) => (k, n, nat, c) }
    val dirty = custs.filter(_._1 % 11 == 0).map { case (k, n, nat, c) =>
      (k + 1000000L,
        if (k % 2 == 0) n.take(1) + n.drop(2) else n,
        if (k % 5 == 0) (nat + 7) % 25 else nat,
        if (k % 3 == 0) c + 100 else c)
    }
    // weights: same identical-tree double chains as the operator
    val dn = clean.map(_._2).distinct.length.toDouble
    val db = clean.map(_._4).distinct.length.toDouble
    val n = clean.length.toDouble
    val s2 = clean.groupBy(_._3).values.map(g => g.size.toLong)
      .map(c => c * c).sum.toDouble
    def w(x: Double) = math.floor(1000000.0 * math.log(x)).toLong
    val (wna, wnd) = (w((19.0 * dn) / 20.0), w(dn / (20.0 * (dn - 1.0))))
    val (wta, wtd) = (w((19.0 * n * n) / (20.0 * s2)),
      w((n * n) / (20.0 * (n * n - s2))))
    val (wba, wbd) = (w((19.0 * db) / 20.0), w(db / (20.0 * (db - 1.0))))
    val want = (for {
      (did, dnm, dnat, dc) <- dirty
      (cid, cnm, cnat, cc) <- clean
      if (dnat == cnat && dc == cc) || lev(dnm, cnm) <= 1
      na = lev(dnm, cnm) <= 1; ta = dnat == cnat; ba = dc == cc
      s = (if (na) wna else wnd) + (if (ta) wta else wtd) +
        (if (ba) wba else wbd)
      if s >= 1000000L
    } yield (did, cid, na, ta, ba, s,
      if (s >= 12000000L) "match" else "possible")).toSet
    val got = graft.operators.Dedup.fellegiSunter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getLong(5), r.getString(6)))
      .toSet
    assert(got == want,
      s"blocked=${got.size} brute=${want.size} missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // both verdicts live; a nation-flipped true pair is still found
    assert(got.exists(_._7 == "match") && got.exists(_._7 == "possible"))
    assert(got.exists(p => !p._4 && p._1 - 1000000L == p._2),
      "the name channel must rescue a nation-flipped true pair")
    // every true pair with at least two agreeing fields is recovered
    val trueRecovered = got.count(p => p._1 - 1000000L == p._2)
    assert(trueRecovered > 0)
  }

  test("hyperplane plane families are disjoint across offsets") {
    import graft.functions.VectorExpressions.lsh_bucket
    val df = Seq((1L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
      .select(
        lsh_bucket(col("embedding"), 64, 0).as("c0"),
        lsh_bucket(col("embedding"), 64, 64).as("c1"))
    val r = df.head()
    // different plane families give different sign codes
    assert(r.getLong(0) != r.getLong(1))
  }

  test("semDedup matches a naive cluster-blocked scorer; dup rule is keep-lowest-id") {
    val clusters = 16
    val thr = 300000L
    val got = Dedup.semDedup(spark, SparkTestSession.sf, clusters, thr)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toMap
    // naive twin: identical float→double cast order and left-to-right
    // accumulation, so doubles (and their micro floors) match
    // bit-exactly
    val raw = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val u = raw.map { case (id, v) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(dot(d, d))
      id -> (if (n > 0) d.map(_ / n) else d.map(_ => 0.0))
    }
    val cents = u.filter(_._1 < clusters)
    val cell = u.map { case (id, v) =>
      val best = cents.toSeq.map { case (c, cv) => (dot(v, cv), -c) }.max
      id -> -best._2
    }
    val pairs = for {
      a <- u.keys.toSeq; b <- u.keys.toSeq
      if a < b && cell(a) == cell(b)
      sim = math.floor(dot(u(a), u(b)) * 1e6).toLong
      if sim >= thr
    } yield (b, a, sim)
    val dups = pairs.groupBy(_._1).map { case (b, ps) =>
      b -> (ps.map(_._2).min, ps.map(_._3).max)
    }
    assert(got.keySet == u.keySet)
    u.keys.foreach { id =>
      val (cId, isDup, keptFor, maxSim) = got(id)
      assert(cId == cell(id), s"cell of $id")
      dups.get(id) match {
        case Some((k, s)) =>
          assert(isDup && keptFor == k && maxSim == s, s"dup row $id")
        case None =>
          assert(!isDup && keptFor == -1L && maxSim == -1L, s"clean row $id")
      }
    }
    // the quadratic term must be cluster-blocked: some same-cell pair
    // exists (the blocker is live), yet the pair count is far below
    // the all-pairs square
    assert(pairs.nonEmpty || dups.isEmpty)
  }

  test("substring-span dedup: overlapping grams merge via exclusive ends; within-doc repeats count") {
    // spanLen=4, minCount=2 on crafted literals:
    //  A="XXXXAB"     : "XXXX" at pos 1 (also in B)     -> span [1,5)
    //  B="ZZXXXXQQ"   : "XXXX" at pos 3                 -> span [3,7)
    //  C="ABCDEABCDE" : "ABCD"@{1,6}, "BCDE"@{2,7} all WITHIN one
    //    doc (minCount counts total occurrences, not distinct docs);
    //    positions {1,2,6,7} chain through the exclusive-end rule
    //    (6 is NOT > prev_max_e=6) into ONE span [1,11) = the whole
    //    doc — the adjacency case a closed-end merge would split
    //  D="QWERTYUIOP" : no repeated gram -> zero spans, frac 0.0
    Seq((1L, "XXXXAB"), (2L, "ZZXXXXQQ"), (3L, "ABCDEABCDE"),
        (4L, "QWERTYUIOP")).toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet("/tmp/graft-substr-test/documents.parquet")
    val got = Dedup.substringSpanDedup(spark, "/tmp/graft-substr-test",
        spanLen = 4, minCount = 2)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == ((6L, 1L, 4L, 4.0 / 6.0)))
    assert(got(2L) == ((8L, 1L, 4L, 4.0 / 8.0)))
    assert(got(3L) == ((10L, 1L, 10L, 1.0)))
    assert(got(4L) == ((10L, 0L, 0L, 0.0)))
  }

  test("prefix-filter join: lossless vs exhaustive, hand-computed pair") {
    import spark.implicits._
    // shingle sets (5-grams): doc1 {abcde,bcdef}; doc2 = doc1 (J=1);
    // doc5 {abcde,bcdef,cdefg} → J(1,5) = 2/3 ≥ 0.6;
    // doc3 {abcde,bcdeg} → J(1,3) = 1/3 < 0.6; doc4 disjoint;
    // docs 6,7 share 3 of 5 shingles exactly at the J = 0.6 boundary
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "a b c d e g"),
      (4L, "p q r s t u"),
      (5L, "a b c d e f g"),
      (6L, "m n o p q r s"),       // {mnopq, nopqr, opqrs}
      (7L, "m n o p q r s t u")    // {mnopq..qrstu}: ∩=3, ∪=5 → 0.6
    ).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val filtered = graft.operators.Dedup.prefixFilterJoinOn(docs)
      .collect().map(key).toSet
    val exhaustive = graft.operators.Dedup.exactSetJoinOn(docs)
      .collect().map(key).toSet
    assert(filtered == exhaustive, "prefix filtering must be lossless")
    val pairs = filtered.map(t => (t._1, t._2) -> t).toMap
    assert(pairs((1L, 2L))._6 == 1.0)
    assert(pairs((1L, 5L))._3 == 2L && pairs((1L, 5L))._6 == 2.0 / 3.0)
    assert(pairs.contains((2L, 5L)))
    assert(pairs.contains((6L, 7L)), "boundary J = 0.6 passes the ≥ gate")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((1L, 4L)))
    assert(pairs.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L), (6L, 7L)))
  }

  test("lsh planner: repeated-squaring replay, S-curve monotone in t") {
    val rows = graft.operators.Dedup
      .lshPlanner(SparkTestSession.spark, SparkTestSession.sf)
      .collect()
    assert(rows.length == 22)
    def p(t: Double, b: Int, r: Int): Double = {
      def sq(x: Double, e: Int): Double = e match {
        case 1 => x
        case 2 => x * x
        case 4 => { val x2 = x * x; x2 * x2 }
        case 8 => { val x2 = x * x; val x4 = x2 * x2; x4 * x4 }
        case 16 => { val x2 = x * x; val x4 = x2 * x2
          val x8 = x4 * x4; x8 * x8 }
        case 32 => { val x2 = x * x; val x4 = x2 * x2
          val x8 = x4 * x4; val x16 = x8 * x8; x16 * x16 }
      }
      1.0 - sq(1.0 - sq(t, r), b)
    }
    rows.foreach { row =>
      val (b, r) = (row.getLong(0).toInt, row.getLong(1).toInt)
      assert(row.getDouble(3) == p(0.9, b, r), s"catch b=$b r=$r")
      assert(row.getDouble(4) == p(0.6, b, r))
      assert(row.getDouble(5) == p(0.3, b, r))
      // S-curve: candidate probability rises with similarity
      assert(row.getDouble(3) > row.getDouble(4) &&
        row.getDouble(4) > row.getDouble(5))
    }
    // q22's production parameters (16 bands x 4 rows) must catch
    // virtually everything at 0.9
    val q22row = rows.find(x => x.getLong(0) == 16L && x.getLong(1) == 4L).get
    assert(q22row.getDouble(3) > 0.999)
  }

  test("contrastive pairs: every verified pair spawns negatives, none collide") {
    val spark = SparkTestSession.spark
    val rows = graft.operators.Dedup
      .contrastivePairs(spark, SparkTestSession.sf, negs = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pairs = graft.operators.Dedup
      .minhashLshPairsVerified(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    // every output row's (anchor, positive) is a verified pair and the
    // negative collides with neither end
    rows.foreach { case (a, p, i, n) =>
      assert(pairs.contains((a, p)))
      assert(i >= 1 && i <= 3)
      assert(n != a && n != p)
    }
    // near-complete coverage: at most the rare hash-collision rows drop
    assert(rows.length >= pairs.size * 3 - 2 && rows.length <= pairs.size * 3)
    // determinism: a second run reproduces the draw exactly
    val again = graft.operators.Dedup
      .contrastivePairs(spark, SparkTestSession.sf, negs = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // the draw join must broadcast the small pair side, never
    // sort-merge the corpus
    val plan = graft.operators.Dedup
      .contrastivePairs(spark, SparkTestSession.sf, negs = 3)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in contrastive plan:\n$plan")
  }

  test("quality survivors: exactly one keeper per cluster, the max-quality member") {
    val spark = SparkTestSession.spark
    val rows = graft.operators.Dedup
      .qualitySurvivors(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cluster, ms) =>
      assert(ms.length >= 2, s"cluster $cluster must have >= 2 members")
      val keepers = ms.filter(_._4)
      assert(keepers.length == 1, s"cluster $cluster keepers: $keepers")
      val best = ms.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 == best._1,
        s"cluster $cluster survivor must be max quality then min id")
    }
    // survivor set is consistent with q44's membership (same clusters)
    val q44Kept = graft.operators.Dedup
      .nearDupSurvivors(spark, SparkTestSession.sf).collect()
      .map(_.getLong(0)).toSet
    val clustered = rows.map(_._1).toSet
    val dropped44 = graft.sources.Tables
      .load(spark, SparkTestSession.sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet -- q44Kept
    // q44 drops exactly the clustered non-min-id docs, so the
    // clustered set equals dropped44 plus the min-id representatives
    assert(dropped44.subsetOf(clustered))
  }

  test("numeral-normalized dedup: catches digit-only variants, never exact dups") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = "/tmp/graft-numdedup-test"
    Seq(
      (1L, "Page viewed 123 times today"),
      (2L, "Page viewed 456 times today"),   // digit-variant of 1
      (3L, "Page viewed 123 times today"),   // EXACT dup of 1 -> excluded
      (4L, "something else entirely"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Dedup.numeralNormalizedDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // docs 1 and 3 are exact dups (n_exact=2) -> excluded; doc 2 is
    // exact-unique but numeral-matches the 1/3 group (n_num=3)
    assert(got.toSeq.sortBy(_._1) == Seq((2L, 1L, 3L)))
  }

  test("q266 sentence dedup: planted repeats removed, clean text is identity when nothing repeats") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    val got = graft.operators.Dedup.sentenceDedup(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val norm = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.normalizedText(col("text")).as("t"),
        md5(graft.operators.TextAnalysis.normalizedText(col("text")))
          .as("fp"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(got.keySet == norm.keySet)
    got.foreach { case (id, (nSents, nKept, nRemoved, cleanFp)) =>
      assert(nKept + nRemoved == nSents, s"doc $id accounting")
      // every planted doc (re-appended first sentence) must remove >= 1
      if (id % 6 == 0 && norm(id)._1.nonEmpty)
        assert(nRemoved >= 1, s"doc $id planted repeat not removed")
      // a doc with nothing removed and no planting keeps its text:
      // split + ordered re-join is the identity
      if (nRemoved == 0 && id % 6 != 0)
        assert(cleanFp == norm(id)._2, s"doc $id clean_fp")
    }
    assert(got.values.count(_._3 > 0) >= got.size / 7,
      "the planting must actually exercise the removal path")
  }

  test("q259 cross-source matrix equals brute-force pair enumeration on the planted corpus") {
    import org.apache.spark.sql.functions.col
    val sf = SparkTestSession.sf
    val got = graft.operators.Dedup.crossSourceDupMatrix(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    // brute force: replay the planting, enumerate duplicate pairs
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val planted =
      docs.map { case (_, s, t) => (s, norm(t)) } ++
        docs.collect { case (id, _, t) if id % 7 == 0 => ("mirror", norm(t)) } ++
        docs.collect { case (id, s, t) if id % 13 == 0 => (s, norm(t)) }
    val byFp = planted.groupBy(_._2)
    val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    val sharedCounts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    byFp.values.foreach { group =>
      val bySrc = group.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val srcs = bySrc.keys.toSeq.sorted
      for (i <- srcs.indices; j <- i until srcs.length) {
        val (a, b) = (srcs(i), srcs(j))
        val p = if (a == b) bySrc(a) * (bySrc(a) - 1) / 2
          else bySrc(a) * bySrc(b)
        if (a != b || bySrc(a) >= 2) sharedCounts((a, b)) += 1
        pairCounts((a, b)) += p
      }
    }
    val expected = pairCounts.toMap.collect {
      case (k, p) if p > 0 => k -> (p, sharedCounts(k))
    }
    assert(got == expected)
    // the mirror column must touch more than one original source
    assert(got.keys.count(_._1 == "mirror") +
      got.keys.count(_._2 == "mirror") > 1)
  }

  test("q332 LSH banding eval equals a full driver-side replay of truth, banding, and est stages") {
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")
          .split(" ", -1)))
      .filter(_._2.length >= 5)
    val shs = docs.map { case (id, w) =>
      id -> w.sliding(5).map(_.mkString(" ")).toSet
    }.toMap
    val ids = docs.map(_._1).sorted
    // truth: exhaustive exact Jaccard >= 3/5 (integer cross-multiply)
    val truth = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (shs(a) intersect shs(b)).size.toLong
      union = shs(a).size + shs(b).size - inter
      if 5L * inter >= 3L * union
    } yield (a, b)).toSet
    // KM double-hash signatures from one md5 per shingle
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def sig(id: Long): IndexedSeq[Long] = {
      val hs = shs(id).toSeq.map { sh =>
        val m = md5hex(sh)
        (java.lang.Long.parseLong(m.substring(0, 15), 16),
          java.lang.Long.parseLong(m.substring(16, 30), 16))
      }
      (0 until 64).map(i => hs.map { case (h1, h2) => h1 + i * h2 }.min)
    }
    val sigs = ids.map(id => id -> sig(id)).toMap
    def bandKeys(id: Long): Seq[(Int, String)] = (0 until 16).map { b =>
      b -> md5hex(sigs(id).slice(4 * b, 4 * b + 4).mkString(":"))
    }
    val byBand = ids.flatMap(id => bandKeys(id).map(k => (k, id)))
      .groupBy(_._1).values
    val cand = byBand.flatMap { g =>
      val ds = g.map(_._2).distinct.sorted
      for (i <- ds.indices; j <- (i + 1) until ds.length)
        yield (ds(i), ds(j))
    }.toSet
    val est = cand.filter { case (a, b) =>
      val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      10L * m >= 6L * 64L
    }
    val want = (truth.size.toLong, cand.size.toLong, est.size.toLong,
      (truth intersect cand).size.toLong, (truth intersect est).size.toLong)
    val row = Dedup.lshBandingEval(spark, SparkTestSession.sf)
      .collect().head
    val got = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4))
    assert(got == want)
    // metric arithmetic from the same counts
    def ppm(h: Long, n: Long): Option[Long] =
      if (n > 0) Some(h * 1000000L / n) else None
    assert(Option(row.get(5)).map(_.asInstanceOf[Long]) ==
      ppm(want._4, want._1))
    assert(Option(row.get(7)).map(_.asInstanceOf[Long]) ==
      ppm(want._4, want._2))
    // the fixture genuinely exercises the eval: truth pairs exist and
    // banding finds at least one of them
    assert(want._1 > 0L && want._4 > 0L)
  }

  test("q332 plan guard: md5 runs once per shingle, never inside the 64-slot loop") {
    // bandingSigs computes the 64 signature slots as plain min()
    // aggregates over a per-shingle (h1, h2) projection. The md5 must
    // be evaluated once per (doc, shingle) row — exactly 2 Md5 nodes
    // in the optimized plan (h1's and h2's substring of the same
    // call), both BELOW the Aggregate. The first implementation of
    // this operator stacked two HOF projections instead and
    // CollapseProject inlined the md5 into the slot lambda (one
    // STATIC reference, 64 runtime evaluations — 57.5 s vs 9.6 s at
    // sf0.1). If a future rewrite or optimizer change multiplies the
    // md5 into the slot expressions, the node count jumps (64+) and
    // this fails loudly.
    import org.apache.spark.sql.catalyst.expressions.Md5
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
    val sigs = Dedup.bandingSigs(docs)
    val plan = sigs.queryExecution.optimizedPlan
    def md5In(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.flatMap(_.expressions).map(_.collect { case m: Md5 => m }.size).sum
    assert(md5In(plan) == 2,
      s"expected exactly 2 Md5 nodes (h1/h2 substrings of one call per " +
        s"shingle row), found ${md5In(plan)} - md5 work multiplied into " +
        s"the slot expressions")
    // none of the 64 slot aggregates may carry the md5 itself
    val aggMd5 = plan.collect { case a: Aggregate =>
      a.aggregateExpressions
        .map(_.collect { case m: Md5 => m }.size).sum
    }.sum
    assert(aggMd5 == 0,
      s"$aggMd5 Md5 nodes inside aggregate expressions - the per-" +
        s"shingle hash leaked into the 64-slot loop")
    // and the frame still computes: 64-slot signatures, non-empty
    val r = sigs.limit(1).collect()
    assert(r.nonEmpty && r.head.getSeq[Long](1).size == 64)
  }

  test("q397 b-bit minwise eval equals a full replay: banding, exact truth, clamped estimators") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")
          .split(" ", -1)))
      .filter(_._2.length >= 5)
    val shs = docs.map { case (id, w) =>
      id -> w.sliding(5).map(_.mkString(" ")).toSet
    }.toMap
    def sig(id: Long): IndexedSeq[Long] = {
      val hs = shs(id).toSeq.map { sh =>
        val m = md5hex(sh)
        (java.lang.Long.parseLong(m.substring(0, 15), 16),
          java.lang.Long.parseLong(m.substring(16, 30), 16))
      }
      (0 until 64).map(i => hs.map { case (h1, h2) => h1 + i * h2 }.min)
    }
    val sigs = docs.map(_._1).map(id => id -> sig(id)).toMap
    val byBand = docs.map(_._1).flatMap(id => (0 until 16).map(b =>
        ((b, md5hex(sigs(id).slice(4 * b, 4 * b + 4).mkString(":"))), id)))
      .groupBy(_._1).values
    val cand = byBand.flatMap { g =>
      val ds = g.map(_._2).distinct.sorted
      for (i <- ds.indices; j <- (i + 1) until ds.length)
        yield (ds(i), ds(j))
    }.toSet.toSeq
    def jMicro(a: Long, b: Long): Long = {
      val inter = (shs(a) intersect shs(b)).size.toLong
      val uni = shs(a).size + shs(b).size - inter
      inter * 1000000L / uni
    }
    val want = Dedup.bbitGrid.map { b =>
      val pow = 1L << b
      val rows = cand.map { case (a, c) =>
        val j = jMicro(a, c)
        val mF = sigs(a).zip(sigs(c)).count { case (x, y) => x == y }.toLong
        val mB = sigs(a).zip(sigs(c))
          .count { case (x, y) => x % pow == y % pow }.toLong
        val estB = math.max(0L, (mB * pow - 64L) * 1000000L / (64L * (pow - 1)))
        val estF = mF * 1000000L / 64L
        (math.abs(estB - j), math.abs(estF - j))
      }
      b.toLong -> (rows.length.toLong,
        rows.map(_._1).sum / rows.length, rows.map(_._2).sum / rows.length)
    }.toMap
    val got = Dedup.bbitMinwiseEval(spark, SparkTestSession.sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (b, (n, maeB, maeF) ) =>
      val (bytes, gn, gMaeB, gMaeF) = got(b)
      assert(bytes == 64L * b / 8L)
      assert(gn == n && gMaeB == maeB && gMaeF == maeF, s"b=$b")
    }
    assert(want.values.head._1 > 0L, "no banded candidates - vacuous")
    // structural invariants: every arm reads the SAME pair set and
    // the SAME full-slot reference (the b-axis varies only the b-bit
    // estimator). No b-ordering law is asserted: on banded candidates
    // (mostly high-J pairs) small-sample luck can order the arms
    // either way — the fixture reads mae(b=1) BELOW mae(b=8).
    assert(got.values.map(_._2).toSet.size == 1, "pair sets diverge")
    assert(got.values.map(_._4).toSet.size == 1,
      "full-slot reference diverges across arms")
  }

  test("q341 duplicated-span fraction equals a census replay; near-dups read high") {
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val sh = docs.flatMap { case (id, t) =>
      val w = norm(t).split(" ")
      if (w.length < 5) Seq.empty
      else w.sliding(5).map(s => (id, s.mkString(" "))).toSeq.distinct
    }
    val census = sh.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val want = sh.groupBy(_._1).map { case (id, g) =>
      val nd = g.count(s => census(s._2) >= 2L).toLong
      (id, g.length.toLong, nd, nd * 1000000L / g.length)
    }.toSeq.sortBy(_._1)
    val got = Dedup.dupSpanFraction(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == want)
    // the fixture's planted near-dups make the metric non-vacuous in
    // BOTH directions: some doc shares spans, some doc shares none
    assert(got.exists(_._3 > 0L), "no duplicated span anywhere")
    assert(got.exists(_._3 == 0L), "every doc shares a span - suspicious")
    // only sub-5-word docs are absent
    assert(got.length ==
      docs.count(d => norm(d._2).split(" ").length >= 5))
  }

  test("q350 incremental span census: artifact path equals the full-corpus law on batch docs") {
    val inc = Dedup.dupSpanIncremental(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    // exactly the batch residue class, and only >= 5-word docs
    assert(inc.nonEmpty && inc.forall(_._1 % 5 == 0))
    // cross-entry law: a batch doc's (history-dup + batch-dup) spans
    // are EXACTLY its corpus-wide duplicated spans from q341 — a span
    // seen in history has census >= 2, a batch-internal dup likewise,
    // and per-doc-distinct shingling rules out any third source
    val full = Dedup.dupSpanFraction(spark, SparkTestSession.sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    inc.foreach { case (id, nSh, nHist, nBatch, _) =>
      val (fullSh, fullDup) = full(id)
      assert(nSh == fullSh, s"doc $id shingle count drifted")
      assert(nHist + nBatch == fullDup,
        s"doc $id: incremental axes ${nHist}+${nBatch} != corpus $fullDup")
    }
    // the history axis genuinely fires (planted near-dups cross the
    // residue split at this scale)
    assert(inc.exists(_._3 > 0L), "no history duplication found")
  }

  test("q351 canonicalization: longest-member policy over a union-find replay") {
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val docs = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sets = docs.map { case (id, t, _) =>
      id -> norm(t).split(" ").toSeq.sliding(5).filter(_.length == 5)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val ids = sets.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(
      docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (sets(a) intersect sets(b)).size
      if inter * 2 >= (sets(a).size + sets(b).size - inter)
    } { parent(find(a)) = find(b) }
    val nChars = docs.map(d => d._1 -> d._3).toMap
    val byCluster = docs.map(_._1).groupBy(find)
    val want = byCluster.toSeq.flatMap { case (_, members) =>
      val canon = members.minBy(m => (-nChars(m), m))
      val cl = members.min // cluster label = min member id (CC MIN law)
      members.map(m => (m, cl, members.length.toLong, canon, m == canon))
    }.sortBy(_._1)
    val gotFixed = Dedup.canonicalizeClusters(spark, SparkTestSession.sf)
      .select("doc_id", "cluster", "cluster_size", "canonical_id", "kept")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).sortBy(_._1)
    assert(gotFixed.toSeq == want)
    // policy laws: one keeper per cluster, the keeper is maximal
    gotFixed.groupBy(_._2).values.foreach { g =>
      assert(g.count(_._5) == 1)
      val keeper = g.find(_._5).get
      assert(g.forall(m => nChars(m._1) <= nChars(keeper._1)))
    }
    // the policy genuinely diverges from keep-min-id somewhere
    assert(gotFixed.exists(t => t._5 && t._1 != t._2),
      "canonical always equals the min-id representative - policy untested")
  }

  test("q376 banding planner equals an S-curve replay; stricter bands catch less") {
    val sf = SparkTestSession.sf
    val jacs = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(_.getDouble(3))
    assert(jacs.nonEmpty, "no near-dup pairs on the fixture")
    val configs = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4))
    def p(s: Double, r: Int, b: Int): Long = {
      var sr = s
      (1 to Integer.numberOfTrailingZeros(r)).foreach(_ => sr = sr * sr)
      var t = 1.0 - sr
      (1 to Integer.numberOfTrailingZeros(b)).foreach(_ => t = t * t)
      math.floor(1000000.0 * (1.0 - t)).toLong
    }
    val want = configs.map { case (r, b) =>
      val ps = jacs.map(p(_, r, b))
      (r.toLong, b.toLong) -> (ps.length.toLong, ps.sum / ps.length,
        ps.min, ps.count(_ < 900000L).toLong)
    }.toMap
    val got = Dedup.lshBandingPlanner(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == want)
    // for near-dups (s >= 0.5), raising rows-per-band at fixed 64
    // slots can only lose catches — the planner's whole point
    val byR = configs.map { case (r, b) => got((r.toLong, b.toLong))._2 }
    byR.sliding(2).foreach(p2 => assert(p2.head >= p2.last))
    assert(byR.head > byR.last,
      "S-curve flat across configs - fixture similarities degenerate")
  }

  test("q385 dedup yield curve equals a pair replay; yields only shrink") {
    val sf = SparkTestSession.sf
    val pairs = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val pat = graft.operators.TextAnalysis.bpeTokenPattern.r
    val ntok = spark.read
      .parquet(s"${SparkTestSession.sf}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), pat.findAllIn(r.getString(1)).length.toLong))
      .toMap
    val grid = Seq(300000L, 400000L, 500000L, 600000L, 700000L,
      800000L, 900000L)
    val want = grid.map { t =>
      val p = pairs.filter(_._3 >= t / 1000000.0)
      val dropped = p.map(_._2).distinct
      t -> (p.length.toLong, dropped.length.toLong,
        dropped.map(ntok).sum)
    }.toMap
    val got = Dedup.dedupYieldCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == want)
    // tightening the bar can only shrink every yield column
    val byT = grid.map(got)
    Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { f =>
      byT.map(f).sliding(2).foreach(p2 => assert(p2.head >= p2.last))
    }
    // the curve genuinely discriminates on the fixture
    assert(byT.head._1 > byT.last._1, "flat yield curve - vacuous")
  }

  test("q392 cluster profile equals a components replay; mass conserves") {
    val sf = SparkTestSession.sf
    val comps = Dedup.docClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = comps.groupBy(_._2).values
      .groupBy(_.size.toLong).map { case (sz, cs) =>
        sz -> (cs.size.toLong, sz * cs.size)
      }
    val totalDocs = comps.length.toLong
    val totalClusters = comps.map(_._2).distinct.length.toLong
    val got = Dedup.clusterSizeProfile(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(t => t._1 -> (t._2._1, t._2._2)).toMap == want)
    got.foreach { case (sz, (_, nd, td, tc, share)) =>
      assert(td == totalDocs && tc == totalClusters)
      assert(share == nd * 1000000L / totalDocs)
    }
    // mass conservation + the fixture's known structure: singletons
    // dominate, and at least one multi-doc cluster exists
    assert(got.map(_._2._2).sum == totalDocs)
    assert(got.exists(_._1 == 1L) && got.exists(_._1 >= 2L),
      "no dup structure on the fixture - vacuous")
  }

  test("q248 plan guard: no exchange carries chunk text - only digests and ids shuffle") {
    // cdcProvenance's whole scale story is that CDC chunking is
    // row-local and only 16-byte md5 digests + doc ids ever enter an
    // exchange. If projection pruning regressed (or a rewrite grouped
    // on the chunk string), corpus TEXT would start crossing the wire
    // at every shuffle. Assert no Exchange output carries a text or
    // chunk attribute.
    // toString-based: AQE wraps the plan in AdaptiveSparkPlanExec (a
    // leaf node collect() cannot traverse) - the stringified plan
    // shows every Exchange with its output attributes (the q20
    // lineDedup guard's device)
    val plan = Dedup.cdcProvenance(spark, SparkTestSession.sf)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected at least one shuffle:\n$plan")
    // word-boundary match (round-17 advice): a bare substring test on
    // "text#"/"chunk#" would false-fail on any attribute whose name
    // merely CONTAINS those words (context#, ntext#) — pin exactly the
    // text/chunk columns, exprId digits included
    val textAttr = """\b(?:text|chunk)#\d+""".r
    exchanges.foreach { line =>
      assert(textAttr.findFirstIn(line).isEmpty,
        s"exchange carries document text: $line")
    }
  }

  test("q350 on empty input: no task fails reading the census it deletes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q350-empty").toString
    spark.read.parquet(s"${SparkTestSession.sf}/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(sl)
    try {
      // three runs: each one used to fail a census read
      (1 to 3).foreach { _ =>
        assert(SparkEntry.queries("q350_dup_span_incremental")(spark, dir).collect().isEmpty)
      }
      // a job the entry leaves running ends after it returns: wait for it
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      org.apache.spark.graftbus.drainListenerBus(sc)
    } finally sc.removeSparkListener(sl)
    assert(failed.get == 0)
  }
}
