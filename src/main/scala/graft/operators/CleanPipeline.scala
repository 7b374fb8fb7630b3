package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The canonical LLM training-data job, composed end-to-end from the
  * engine's own operators: language gate -> quality gate -> exact
  * dedup -> near-dup removal. This is the "user switches to this
  * library" showcase: every stage is an operator that also stands
  * alone, and the composition still runs under the hard DuckDB oracle
  * because each stage is exactly SQL-expressible.
  *
  * Scale shape: the gates are narrow per-row filters fused into the
  * scan; exact dedup is one digest shuffle; near-dup is the banded
  * LSH + exact-verify pipeline (O(n) candidates). Nothing here is
  * quadratic in the corpus.
  */
object CleanPipeline {

  /** Near-dup survivor policy: for every verified pair (a < b) the
    * higher id `b` is dropped — deterministic, one anti-join, no
    * connected-components pass; the drop-b policy is the standard
    * cheap variant and keeps the oracle in plain SQL. The
    * transitive-closure-correct alternative is
    * [[Dedup.nearDupSurvivors]] (min-label propagation over the pair
    * graph, DedupSpec-tested).
    */
  def cleanCorpus(
      spark: SparkSession, sfDir: String,
      minTokens: Int = 20, jaccardThreshold: Double = 0.5): DataFrame =
    gatedSurvivors(spark, sfDir, minTokens, jaccardThreshold)

  /** The survivor base q25 and q76 share: ONE `documents` scan selects
    * `doc_id`, `lang_pred`, `n_ws_tokens` and the caller's row-local
    * `extras`, then the lang and token gates, the exact-dedup
    * semi-join and the near-dup anti-join. The gates are built from
    * the column builders `TextAnalysis.langId` / `tokenStats` use, so
    * every value is the operators' own; a join of those operators
    * would scan and regex-pass the corpus once per component.
    */
  private def gatedSurvivors(
      spark: SparkSession, sfDir: String,
      minTokens: Int, jaccardThreshold: Double,
      extras: Column*): DataFrame = {
    val (pred, _) = TextAnalysis.langPredCols(col("text"))
    val gated = Tables.load(spark, sfDir, "documents")
      .select(Seq(col("doc_id"), pred.as("lang_pred"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens")) ++ extras: _*)
      .filter(col("lang_pred") =!= "und" && col("n_ws_tokens") >= minTokens)
    val exactKeep = Dedup.exactSurvivors(spark, sfDir)
    val nearDrop = Dedup
      .minhashLshPairsVerified(spark, sfDir, threshold = jaccardThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    gated
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /** The q76 capstone: the WHOLE training-corpus pipeline in one
    * query — [[cleanCorpus]]'s gates and dedup, then the q74
    * repetition gate, q75 PII redaction, and q68 split assignment on
    * the survivors. The output is the artifact a user would actually
    * materialize: the training-corpus MANIFEST (doc, language, token
    * count, repetition score, redacted-text fingerprint, split) — and
    * the whole composition still runs under the hard DuckDB oracle
    * because every stage is exactly SQL-expressible. Scale shape is
    * the union of the stages': narrow gates fused into scans, one
    * digest shuffle, banded LSH, zero-shuffle redaction/split, and
    * doc_id-keyed joins to assemble the manifest.
    */
  def corpusManifest(spark: SparkSession, sfDir: String): DataFrame = {
    // the PII columns and split assignment are row-local too, so they
    // ride the shared base's one scan; only the aggregate-shaped
    // repetition stats remain a join
    val planted = TextAnalysis.plantedEmailText(col("doc_id"), col("text"))
    gatedSurvivors(spark, sfDir, 20, 0.5,
        TextAnalysis.emailCountCol(planted).as("n_emails"),
        TextAnalysis.redactedFpCol(planted).as("redacted_fp"),
        TrainingPrep.splitOfBucket(TrainingPrep.hashBucket(
          col("doc_id"), "", TrainingPrep.splitBuckets)).as("split"))
      .join(TextAnalysis.repetitionStats(spark, sfDir)
        .select(col("doc_id"), col("dup_frac")), "doc_id")
      .filter(col("dup_frac") <= 0.5)
      .select(col("doc_id"), col("lang_pred"), col("n_ws_tokens"),
        col("dup_frac"), col("n_emails"), col("redacted_fp"), col("split"))
  }

  /** The q190 driver entry: QUALITY VERDICT WITH REASON CODES — the
    * per-document filter REPORT a C4/Gopher-class pipeline emits
    * before dropping anything: every gate evaluated for every doc,
    * failures named in a fixed order, keep = no gate fired. The
    * composition twin of q25 (which emits only survivors): a curation
    * team reads THIS table to tune thresholds — "how many docs died,
    * and of what" — and a reason-coded verdict is what makes a filter
    * auditable at 100 TB rather than a silent row-count drop.
    *
    * Gates (fixed order; each exact-integer, the q178 no-float rule):
    *   too_short      n_tokens < 15
    *   too_long       n_chars  > 400
    *   low_stopword   20·n_stopwords < n_tokens  (ratio < 0.05)
    *   repetitive     5·(n_grams − n_distinct) > n_grams  (q74 > 0.2)
    *   low_entropy    the q182 integer gate (< 2 nats/char)
    *   has_pii        email matches > 0 (q75 pattern + planting, so
    *                  the gate has positives on any corpus slice)
    *   mojibake       encoding-corruption markers > 0 (the q234
    *                  detector; doc_id % 11 plants a mojibake tail so
    *                  this gate too has positives everywhere)
    *
    * Scale shape: length/stopword/PII gates are narrow per-row
    * expressions fused into the scan; the repetition and entropy
    * inputs are the q74/q182 map-side-combined aggregates joined
    * back by doc_id; reasons is a null-skipping concat — no new
    * exchange beyond the two gate-input aggregates.
    */
  def qualityVerdict(spark: SparkSession, sfDir: String): DataFrame =
    qualityVerdictOn(graft.sources.Tables.load(spark, sfDir, "documents"))

  def qualityVerdictOn(docs: DataFrame): DataFrame = {
    import TextAnalysis.{normWords, emailPattern, stopwordPattern}
    val planted = docs.select(col("doc_id"),
      concat(
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact: user"), col("doc_id"),
            lit("@example.com")))
          .otherwise(col("text")),
        when(col("doc_id") % 11 === 0, lit(" caf\u00c3\u00a9"))
          .otherwise(lit(""))).as("text"))
    val words = planted
      .select(col("doc_id"), normWords(col("text")).as("w"))
      .where(size(col("w")) >= 5)
    val rep = words
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 4),
        i => array_join(slice(col("w"), i, lit(5)), " "))).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ng"), count_distinct(col("s")).as("nd"))
    val ent = TextAnalysis.charEntropyOn(planted)
      .select(col("doc_id"), col("low_entropy"))
    val scored = planted
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("n_stop",
        regexp_count(col("text"), lit(stopwordPattern)).cast("long"))
      .withColumn("n_pii",
        regexp_count(col("text"), lit(emailPattern)).cast("long"))
      .withColumn("n_moji", TextAnalysis.mojibakeCount(col("text")))
      .join(rep, Seq("doc_id"), "left")
      .join(ent, Seq("doc_id"), "left")
    val gates = Seq(
      "too_short" -> (col("n_tokens") < 15),
      "too_long" -> (col("n_chars") > 400),
      "low_stopword" -> (col("n_stop") * 20 < col("n_tokens")),
      "repetitive" ->
        (lit(5L) * (coalesce(col("ng"), lit(0L)) -
          coalesce(col("nd"), lit(0L))) > coalesce(col("ng"), lit(0L))),
      "low_entropy" -> coalesce(col("low_entropy"), lit(false)),
      "has_pii" -> (col("n_pii") > 0),
      "mojibake" -> (col("n_moji") > 0))
    val anyFail = gates.map(_._2).reduce(_ || _)
    scored.select(col("doc_id"), col("n_chars"), col("n_tokens"),
      (!anyFail).as("keep"),
      concat_ws(",", gates.map { case (name, g) =>
        when(g, lit(name)) }: _*).as("reasons"))
  }

  /** The q241 driver entry: DIFFERENTIAL-PRIVACY GEOMETRIC RELEASE —
    * the privacy leg beside q201's k-anonymity: per-event-type counts
    * released through the two-sided geometric mechanism at alpha =
    * 1/2 (epsilon = ln 2 per unit of the count's sensitivity — the
    * discrete counterpart of the Laplace mechanism, Ghosh et al.'s
    * universally-optimal release for counting queries). The noise is
    * PSEUDORANDOM: an md5-derived 32-bit uniform u passes through the
    * EXACT inverse CDF of the two-sided geometric on the dyadic grid
    * — P(N=0) = 1/3, P(N = +-k) = (1/3)2^-k, realized as pure
    * integer bit arithmetic: with a = 3u and b = 3(2^32-1-u),
    * N = -(33 - bit_length(a)) when a < 2^32 (the lower CDF third),
    * N = +(33 - bit_length(b)) when b < 2^32 (the upper third),
    * N = 0 between — exact to the 2^-32 grid, identical on both
    * engines. (A production deployment keys the PRF with a secret;
    * the MECHANISM — sensitivity-1 counts plus two-sided geometric
    * noise — is what this entry exhibits, and a keyed PRF is how
    * reproducible pipelines actually implement DP releases.)
    *
    * Output per event type: the released noisy count, the noise
    * actually added (the audit twin a DP release would NOT publish —
    * kept here for the oracle, flagged by name), and the pinned
    * epsilon in micro-nats.
    *
    * Scale shape: one fact-grain aggregate to the bounded type
    * domain; noise derivation is per-GROUP arithmetic, free.
    */
  val DpEpsilonMicro = 693147L // ln 2, pinned constant (micro-nats)

  def dpGeometricRelease(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    val counts = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("true_count_audit"))
    // 32-bit word from the md5 device; leading-ones run length =
    // count of consecutive set bits from bit 31 down. leading ones
    // of w == leading zeros of ~w (masked to 32 bits):
    // 32 - bit_length(xor(w, 0xFFFFFFFF)) for w < 2^32.
    counts
      .withColumn("u",
        conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 8),
          16, 10).cast("long"))
      .withColumn("a", col("u") * 3)
      .withColumn("b", (lit(4294967295L) - col("u")) * 3)
      .withColumn("noise_audit", expr(
        """CAST(CASE
             WHEN a < 4294967296 THEN
               -(33 - CASE WHEN a = 0 THEN 0 ELSE length(bin(a)) END)
             WHEN b < 4294967296 THEN
               (33 - CASE WHEN b = 0 THEN 0 ELSE length(bin(b)) END)
             ELSE 0 END AS BIGINT)"""))
      .select(col("event_type"),
        (col("true_count_audit") + col("noise_audit"))
          .as("released_count"),
        col("noise_audit"),
        col("true_count_audit"),
        lit(DpEpsilonMicro).as("epsilon_micro"))
  }

  private val kAnonK = 5L
  private val kAnonL = 2L

  /** The q201 driver entry: K-ANONYMITY / L-DIVERSITY AUDIT — the
    * release gate a dataset passes before leaving the lake: treating
    * (source, length decile) as the quasi-identifier and language as
    * the sensitive attribute, every equivalence class must hold ≥ k
    * members (re-identification resistance) AND ≥ l distinct
    * sensitive values (the homogeneity attack k-anonymity alone
    * misses — a 10-member class that is all one language still leaks
    * it). Classes failing either gate are the suppression set; the
    * audit reports each class with both flags so the release
    * decision is row-count-accountable (the q190 philosophy applied
    * to privacy).
    *
    * Exactness: the length decile is the q69-style integer bucket
    * (n_chars DIV 64 capped at 9 — fixed-width, data-independent);
    * counts are exact; both gates compare integers.
    *
    * Scale shape: one (quasi-id) aggregate, map-side combined;
    * distinct-language counts ride the same exchange (two-level
    * aggregate); output is class-domain-bounded.
    */
  def kAnonymityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        least(floor(col("n_chars") / lit(64)).cast("long"), lit(9L))
          .as("len_bucket"),
        col("lang"))
    val cells = docs
      .groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy(col("source"), col("len_bucket"))
      .agg(sum(col("c")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_langs"))
      .select(col("source"), col("len_bucket"), col("n"), col("n_langs"),
        (col("n") >= kAnonK).as("k_ok"),
        (col("n_langs") >= kAnonL).as("l_ok"),
        (col("n") < kAnonK || col("n_langs") < kAnonL)
          .as("suppress"))
  }

  /** The q223 driver entry: PER-SOURCE DATA SCORECARD — the vendor/
    * feed quality table every multi-source corpus maintains: per
    * `source`, the doc count, token volume, EXACT-DUP rate (share of
    * docs whose normalized-text md5 occurs more than once corpus-wide
    * — cross-source duplication counts against both feeds), and the
    * source's token share of the corpus. This is the artifact a data
    * lead reads before renewing a feed.
    *
    * All integer after the fingerprint join: rates are truncating
    * DIVs of exact counts.
    *
    * Scale shape: one doc-grain pass computes (fp, tokens); the dup
    * marker is an fp-keyed count join (16-byte digests, never text —
    * the q20 discipline); per-source rollup is map-side combined to
    * the source domain, and the corpus total broadcasts back.
    */
  def sourceScorecard(spark: SparkSession, sfDir: String): DataFrame = {
    val withFp = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        md5(TextAnalysis.normalizedText(col("text"))).as("fp"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
    val fpCounts = withFp.groupBy(col("fp"))
      .agg(count(lit(1)).as("nfp"))
    val per = withFp.join(fpCounts, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
    val tot = per.agg(sum(col("n_tokens")).as("tt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_dup_docs").cast("long").as("n_dup_docs"),
        expr("(n_dup_docs * 1000000) DIV n_docs").as("dup_rate_micro"),
        expr("(n_tokens * 1000000) DIV tt").as("token_share_micro"))
  }

  /** The q264 driver entry: FK-PRESERVING PSEUDONYMIZATION — the
    * privacy leg beside q201 (audit) and q241 (DP release): replace
    * the customer key in BOTH the dimension and the fact table with a
    * keyed hash pseudonym (md5("pseud:" + key) — in production the
    * salt is a secret; the device is the PRF-keyed pattern q241
    * states), then run the analytical join ENTIRELY in pseudonym
    * space. The oracle computes the same aggregate on the ORIGINAL
    * keys — hash equality IS the referential-integrity theorem
    * (consistent salting preserves every FK edge), and the
    * `n_customers` distinct count doubles as the collision audit
    * (an md5 collision between customer keys would change it).
    *
    * Scale shape: pseudonymization is a per-row expression on each
    * table independently (zero coordination — the q262 posture for
    * governance); the join after it has exactly the plan of the
    * original-key join (hash keys are just strings).
    */
  def pseudonymizedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def pseud(c: org.apache.spark.sql.Column) =
      md5(concat(lit("pseud:"), c.cast("string")))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(pseud(col("c_custkey")).as("p_cust"),
        col("c_mktsegment").as("segment"))
    val ord = Tables.load(spark, sfDir, "orders")
      .select(pseud(col("o_custkey")).as("p_cust"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    ord.join(cust, "p_cust")
      .groupBy(col("segment"))
      .agg(countDistinct(col("p_cust")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** The q309 driver entry: MULTI-CLASS PII SCRUB AUDIT — the
    * release-gate composition of the PII family: q75 scrubs ONE class
    * (emails), q242 checksum-verifies cards; a real redaction pass
    * chains EVERY class over the same text and reports a per-doc
    * audit verdict. Per doc: how many of each class fired, the digest
    * of the text after BOTH maskings applied in sequence (so a
    * reviewer verifies the combined redaction without the audit table
    * carrying PII — only counts and hashes leave the row), and the
    * `clean` release verdict. PII is PLANTED deterministically and
    * replayed verbatim in the oracle (the q75/q259 pattern): every
    * 13th doc gains a contact email, every 17th a +1555 phone; docs
    * at 13·17 strides carry both, exercising the chained replace
    * order. Patterns are deliberately simple ASCII character
    * classes — identical semantics in Java and RE2 regex dialects
    * (the q94 portability rule).
    *
    * Scale shape: strictly row-local (two regexp_count, two chained
    * regexp_replace, one md5 inside whole-stage codegen) — zero
    * shuffle, the q50 embarrassing-parallel posture. Masked TEXT is
    * never emitted, only its digest.
    */
  def piiScrubAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phonePat = "\\+1555[0-9]{7}"
    val planted = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), concat(
        graft.operators.TextAnalysis.normalizedText(col("text")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          concat(lit(" call +1555"),
            lpad((col("doc_id") % 10000000L).cast("string"), 7, "0")))
          .otherwise(lit(""))).as("t"))
    planted.select(col("doc_id"),
        regexp_count(col("t"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(phonePat)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"),
          emailPat, "<EMAIL>"), phonePat, "<PHONE>")).as("masked_digest"))
      .withColumn("clean", col("n_emails") + col("n_phones") === 0L)
  }

  /** The q355 driver entry: T-CLOSENESS AUDIT — the third leg of the
    * release-readiness trilogy (q201 k-anonymity + l-diversity,
    * q241 DP release): l-diversity only counts DISTINCT sensitive
    * values per quasi-identifier cell, so a cell that is 99% one
    * language still passes l=2 while leaking the attribute —
    * t-closeness (Li 2007) instead bounds the DISTANCE between the
    * cell's sensitive distribution and the global one. On the
    * ordered sensitive domain the Earth-Mover's Distance has the
    * exact prefix form EMD = Σᵥ |F_cell(v) − F(v)| / (V−1), computed
    * here with NO division until the end: the per-value term is the
    * integer |cum_cell·n − cum·n_cell| (cross-multiplied CDFs), the
    * sum rides DECIMAL(38)/HUGEINT, and one trailing DIV lands
    * `t_ppm` = Σ·10⁶ DIV (n_cell·n·(V−1)). QI cells are q201's
    * (source, len_bucket); sensitive = lang ordered ascending (langs
    * have no canonical order — the ordering is part of the audit's
    * declared convention, same both engines).
    *
    * Scale shape: ONE fact-scale (cell, lang) count; the CDFs,
    * cross-multiplications, and the verdict all live on the bounded
    * cells × langs domain (the DENSE cell×lang grid is built by a
    * bounded cross join so absent languages still contribute their
    * |0 − cum·n_cell| mass — forgetting them understates EMD).
    */
  def tClosenessAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        least(floor(col("n_chars") / lit(64)).cast("long"), lit(9L))
          .as("len_bucket"),
        col("lang"))
    val vl = docs.groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true) // feeds cells, globals, and the grid
    val cells = vl.groupBy(col("source"), col("len_bucket"))
      .agg(sum(col("c")).cast("long").as("n_cell"))
    val wLang = Window.orderBy(col("lang").asc)
      .rowsBetween(Window.unboundedPreceding, 0L)
    val glob = vl.groupBy(col("lang"))
      .agg(sum(col("c")).cast("long").as("g"))
      .withColumn("cum", sum(col("g")).over(wLang).cast("long"))
      .withColumn("n", sum(col("g")).over(
        Window.partitionBy(lit(1))).cast("long"))
      .withColumn("v", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("long"))
      .select(col("lang"), col("cum"), col("n"), col("v"))
    // dense grid: every cell x every global language
    val wCellLang = Window.partitionBy(col("source"), col("len_bucket"))
      .orderBy(col("lang").asc)
      .rowsBetween(Window.unboundedPreceding, 0L)
    val grid = cells.crossJoin(broadcast(glob))
      .join(vl, Seq("source", "len_bucket", "lang"), "left")
      .withColumn("cum_cell",
        sum(coalesce(col("c"), lit(0L))).over(wCellLang).cast("long"))
    grid.groupBy(col("source"), col("len_bucket"))
      .agg(max(col("n_cell")).as("n_cell"),
        expr("""CAST(SUM(CAST(abs(cum_cell * n - cum * n_cell)
            AS DECIMAL(38, 0))) * 1000000
            DIV (MAX(n_cell) * MAX(n) * (MAX(v) - 1)) AS BIGINT)""")
          .as("t_ppm"))
      .withColumn("t_ok", col("t_ppm") <= 200000L)
  }

  /** Severity-weighted toxicity lexicon for [[toxicityGate]] —
    * exact-word terms only (matched by whole-word equality over the
    * normalized split, NOT substring/regex: "assassin" must not fire
    * "ass"-class terms; word equality is the portable semantics both
    * engines execute identically). Severities are small integers so
    * the weighted score stays in exact BIGINT arithmetic.
    *
    * Cross-lingual collision rule: a term that is a common FUNCTION
    * WORD in another ingested language is banned from the lexicon —
    * "die" (English verb, severity-3 candidate) is also the German
    * definite article (one of this repo's own langMarkers), so on a
    * real German feed it would mass-flag documents and quarantine
    * the source wholesale, the opposite of the operator's
    * multilingual-ingest purpose. A production deployment scopes the
    * lexicon per language (join the doc's `lang` before counting);
    * this illustrative single-table lexicon instead keeps only terms
    * with no function-word homograph across the corpus languages
    * ("murder" replaces "die").
    */
  val toxicLexicon: Seq[(String, Long)] = Seq(
    "kill" -> 3L, "murder" -> 3L, "racist" -> 3L,
    "hate" -> 2L, "attack" -> 2L, "abuse" -> 2L, "violence" -> 2L,
    "stupid" -> 1L, "idiot" -> 1L, "dumb" -> 1L)

  /** q361 default gate thresholds — named so the oracle generator
    * interpolates THE SAME values the Spark defaults use (a default
    * change cannot silently decouple the twins).
    */
  val toxicDocPpm: Long = 20000L
  val toxicSrcPpm: Long = 100000L

  /** The q361 driver entry: SEVERITY-WEIGHTED TOXICITY GATE — the
    * lexicon safety filter every pretraining ingest runs beside the
    * PII scrub (q75/q309) and the injection scan (q352): per-doc
    * weighted hit score (Σ severity·count over [[toxicLexicon]]) in
    * ppm of the doc's words, a doc flag at `toxicDocPpm`, then the
    * SOURCE-grain quarantine decision at `toxicSrcPpm` flagged-doc share
    * — source-level quarantine (drop/review the whole feed) is the
    * operational action, per-doc deletion alone leaves the feed
    * resupplying toxic text next crawl. Counting is whole-word
    * multiplicity over the normalized split (row-local higher-order
    * filters, one per term — the lexicon is a compile-time constant
    * so every count is codegen'd; no regex, no UDF). The fixture
    * corpus is organically hit-free — the expected clean-corpus
    * reading; the spec plants toxic docs through the same core.
    *
    * Scale shape: q347's embarrassingly parallel posture — per-doc
    * scoring is row-local; the only exchange is the single
    * map-side-combined aggregate onto the bounded source domain.
    */
  def toxicityGate(spark: SparkSession, sfDir: String): DataFrame =
    toxicityGateOn(Tables.load(spark, sfDir, "documents"))

  /** The q361 core over any `(doc_id, source, text)` frame. */
  def toxicityGateOn(docs: DataFrame): DataFrame = {
    val hits = toxicLexicon.map { case (t, _) =>
      expr(s"CAST(size(filter(w, x -> x = '$t')) AS BIGINT)")
    }.reduce(_ + _)
    val score = toxicLexicon.map { case (t, s) =>
      expr(s"CAST(size(filter(w, x -> x = '$t')) AS BIGINT) * CAST($s AS BIGINT)")
    }.reduce(_ + _)
    val perDoc = docs
      .select(col("source"),
        TextAnalysis.normWords(col("text")).as("w"))
      .select(col("source"), size(col("w")).cast("long").as("n_words"),
        hits.as("n_hits"), score.as("score"))
      .where(col("n_words") >= 1L)
      .withColumn("score_ppm", expr("score * 1000000 DIV n_words"))
      .withColumn("flagged", col("score_ppm") > toxicDocPpm)
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).cast("long")
          .as("n_flagged"),
        sum(col("n_hits")).cast("long").as("total_hits"),
        sum(col("score")).cast("long").as("total_score"))
      .withColumn("flagged_ppm", expr("n_flagged * 1000000 DIV n_docs"))
      .withColumn("quarantine", col("flagged_ppm") > toxicSrcPpm)
  }

  /** The q375 driver entry: FILTER OPERATING CURVE — the tuning
    * table behind every quality-threshold decision: for each
    * candidate threshold on q212's stopword-ratio score (the
    * pipeline's cheap quality scorer), what fraction of each
    * source's documents AND token mass survives, and what the
    * survivors' mean score is — kept-mass vs quality-lift is the
    * tradeoff a curation team reads before fixing the operating
    * point (a threshold that lifts mean quality 2× but keeps 3% of
    * tokens starves the run). One tokenizer+scorer pass feeds every
    * arm: per-threshold columns are conditional sums, arms union on
    * the bounded source × thresholds domain (q358's parametric-arm
    * pattern). Laws: kept counts/mass are monotone non-increasing
    * in the threshold, and kept mean score is monotone
    * non-decreasing (spec-pinned).
    *
    * Scale shape: one doc-grain scan (score + token count), one
    * map-side-combined aggregate onto the source domain, |T| cheap
    * projections unioned — the fact scan is paid once, not per arm.
    */
  /** q375 default threshold grid — named so the oracle generator and
    * the Spark default cannot silently diverge.
    */
  val filterCurveThresholds: Seq[Long] =
    Seq(0L, 100000L, 200000L, 300000L)

  def filterOperatingCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Experiment.rocAucScored(spark, sfDir)
      .select(col("doc_id"), col("score"))
    val aggs = Seq(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("ntok")).cast("long").as("tokens_total")) ++
      filterCurveThresholds.flatMap { t =>
        Seq(
          sum(when(col("score") >= t, 1L).otherwise(0L)).cast("long")
            .as(s"kept_$t"),
          sum(when(col("score") >= t, col("ntok")).otherwise(0L))
            .cast("long").as(s"ktok_$t"),
          sum(when(col("score") >= t, col("score")).otherwise(0L))
            .cast("long").as(s"ksc_$t"))
      }
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.bpeTokenCount(col("text")).as("ntok"))
      .join(scored, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
    filterCurveThresholds.map { t =>
      base.select(col("source"), lit(t).as("threshold_micro"),
        col("n_docs"), col("tokens_total"),
        col(s"kept_$t").as("kept_docs"),
        col(s"ktok_$t").as("kept_tokens"),
        expr(s"kept_$t * 1000000 DIV n_docs").as("kept_docs_ppm"),
        expr(s"ktok_$t * 1000000 DIV tokens_total").as("kept_tokens_ppm"),
        expr(s"CASE WHEN kept_$t = 0 THEN -1 " +
          s"ELSE ksc_$t DIV kept_$t END").cast("long")
          .as("kept_mean_score_micro"))
    }.reduce(_ unionByName _)
  }
}
