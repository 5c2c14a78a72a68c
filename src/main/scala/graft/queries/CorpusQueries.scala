package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns
import graft.operators.Curation
import graft.streaming.Drain

/** Round-4 corpus-curation battery (SURVEY.md §2.4 X46/X48/X49): segment-
  * level exact dedup, temperature rebalancing, and df-weighted lexical
  * retrieval. Operators live in [[graft.operators.Curation]]; this object
  * binds them to the test tables and states each DuckDB oracle. (X47,
  * semantic dedup, lives in [[LlmData]] with the k-means oracle CTEs it
  * shares with x31.)
  */
object CorpusQueries {

  private def docs(spark: SparkSession, dir: String) = t(spark, dir, "documents")

  // ---- X46: segment-level exact dedup (C4-style span removal) ----------

  /** 8-token spans: long enough to not fire on natural recurring phrases,
    * short enough that this corpus's near-dup clusters (which share long
    * token runs) produce real span duplication. */
  val SegTokens = 8

  def x46SegmentDedup(spark: SparkSession, dir: String): DataFrame =
    Curation.segmentDedup(docs(spark, dir), SegTokens).orderBy(col("doc_id"))

  /** The oracle groups on the span text itself; the engine groups on
    * sha256(span) — identical partitions (the hash is injective on this
    * corpus and 2⁻¹²⁸-collision-bounded in general). */
  val x46Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sg AS (SELECT doc_id, s,
       |         array_to_string(list_slice(ts, s * $SegTokens + 1,
       |                                    least((s + 1) * $SegTokens, len(ts))), ' ') AS seg,
       |         least($SegTokens, len(ts) - s * $SegTokens) AS sl
       |       FROM tk, unnest(range(0, (len(ts) + ${SegTokens - 1}) // $SegTokens)) AS u(s)),
       |m AS (SELECT doc_id, s, sl,
       |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, s) AS rn FROM sg)
       |SELECT doc_id, count(*) AS n_segs,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       |  CAST(sum(CASE WHEN rn = 1 THEN sl ELSE 0 END) AS BIGINT) AS n_tokens_kept
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X48: temperature rebalancing (inverse-sqrt language sampler) ----

  /** rate_l = min(1, 8/√n_l): at sf0.01 the head language (en, ~44% of
    * docs) samples at ~0.54 while the tail languages keep ~0.96–1.0; at
    * sf0.1 every language downsamples, head hardest — the α=0.5
    * temperature-flattening shape. */
  val RebalanceK = 8.0

  def x48RebalanceSample(spark: SparkSession, dir: String): DataFrame =
    Curation.rebalanceByLang(docs(spark, dir), RebalanceK).orderBy(col("lang"))

  val x48Sql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
       |r AS (SELECT lang, n_docs,
       |        least(CAST(1000000 AS BIGINT),
       |              CAST(floor($RebalanceK / sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT))
       |          AS rate_units
       |      FROM c),
       |b AS (SELECT lang,
       |        ${TextFns.h31Sql("'rebal:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
       |      FROM documents)
       |SELECT r.lang AS lang, r.n_docs AS n_docs, r.rate_units AS rate_units,
       |  CAST(sum(CASE WHEN b.bucket < r.rate_units THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
       |FROM b JOIN r USING (lang) GROUP BY r.lang, r.n_docs, r.rate_units ORDER BY 1""".stripMargin

  // ---- X50: leakage-free train/test split ------------------------------

  /** 20% of clusters to test. Scored on the half corpus (doc_id ≡ 0
    * mod 2, x44's subset): the battery already pays full-corpus cluster
    * mining in x35, and the property that matters — no near-dup pair
    * straddles the split — is law-tested on the FULL corpus in
    * CurationSpec every `sbt test` run. */
  val SplitTestPermille = 200

  def x50LeakSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.leakFreeSplit(
      docs(spark, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
      LlmData.clusterLabels(spark, dir, 2),
      SplitTestPermille)
      .orderBy(col("doc_id"))

  val x50Sql: String =
    s"""WITH RECURSIVE
       |${LlmData.clustersCtesFor("(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
       |labeled AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
       |alldocs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
       |            LEFT JOIN labeled l USING (doc_id))
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ${TextFns.h31Sql("'split:' || CAST(cluster_id AS VARCHAR)")} % 1000
       |            < $SplitTestPermille
       |       THEN 'test' ELSE 'train' END AS split
       |FROM alldocs ORDER BY doc_id""".stripMargin

  // ---- X63: duplication-aware sampling weights -------------------------

  /** Scored on the quarter corpus (doc_id ≡ 0 mod 4, x37's subset): the
    * battery already pays full-corpus cluster mining in x35, and the
    * invariants that matter — Σ weight_ppm over a cluster ∈ (10⁶ −
    * |cluster|, 10⁶], singletons exactly 10⁶, every doc covered — are
    * law-tested on full fixtures in CurationSpec every `sbt test` run. */
  def x63DupWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
    graft.operators.Curation.duplicationWeights(d,
      LlmData.clusterLabels(spark, dir, 4))
      .orderBy(col("doc_id"))
  }

  val x63Sql: String =
    s"""WITH RECURSIVE
       |${LlmData.clustersCtesFor("(SELECT * FROM documents WHERE doc_id % 4 = 0)")},
       |labeled AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
       |alldocs AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |            FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
       |            LEFT JOIN labeled l USING (doc_id)),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM alldocs GROUP BY 1)
       |SELECT a.doc_id, a.cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       |  1000000 // CAST(cluster_size AS BIGINT) AS weight_ppm
       |FROM alldocs a JOIN sz USING (cluster_id) ORDER BY a.doc_id""".stripMargin

  // ---- X51: vocabulary coverage / OOV rate -----------------------------

  /** 32 of this corpus's ~64 distinct tokens: the head half of the
    * vocabulary covers most of the token mass (the corpus is Zipf-shaped
    * by construction), so per-doc OOV rates land in a discriminative
    * mid-range instead of collapsing to 0 or 1. */
  val VocabSize = 32

  def x51VocabOov(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.vocabOov(docs(spark, dir), VocabSize)
      .orderBy(col("doc_id"))

  val x51Sql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |v AS (SELECT tok FROM tk GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT $VocabSize),
       |j AS (SELECT tk.doc_id, v.tok AS vt FROM tk LEFT JOIN v ON tk.tok = v.tok)
       |SELECT doc_id, count(*) AS n_tok,
       |  CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  (CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*)
       |    AS oov_ppm
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X52: cross-source overlap matrix --------------------------------

  /** Word 3-grams — the same discriminative unit as x49 (unigrams are all
    * stopwords on this small-vocabulary corpus). */
  val OverlapK = 3

  def x52SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.sourceOverlap(docs(spark, dir), OverlapK)
      .orderBy(col("src_a"), col("src_b"))

  val x52Sql: String =
    s"""WITH tk AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT DISTINCT source, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |       FROM tk, unnest(range(1, len(ts) - ${OverlapK - 2})) AS u(i)
       |       WHERE len(ts) >= $OverlapK),
       |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |       FROM sh a JOIN sh b USING (shingle) WHERE a.source < b.source GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  (n_shared * 1000000) // (za.n + zb.n - n_shared) AS jacc_ppm
       |FROM pr JOIN sz za ON za.source = pr.src_a JOIN sz zb ON zb.source = pr.src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ---- X53: bigram repetition (Gopher-style top-2-gram share) ----------

  def x53BigramRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bigramRepetition(docs(spark, dir))
      .orderBy(col("doc_id"))

  val x53Sql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
      |       FROM tk, unnest(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2),
      |c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |  CAST(max(cnt) AS BIGINT) AS top_cnt,
      |  (CAST(max(cnt) AS BIGINT) * 1000000) // CAST(sum(cnt) AS BIGINT)
      |    AS top_share_ppm,
      |  (CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(cnt) AS BIGINT) AS dup_ppm
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X54: rarity score (integer-exact unigram-LM quality proxy) ------

  def x54RarityScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.rarityScore(docs(spark, dir))
      .orderBy(col("doc_id"))

  val x54Sql: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |w AS (SELECT tok, CAST(floor(1e12 / (df + 1)) AS BIGINT) AS w FROM df)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
      |  CAST(sum(tf * w) AS BIGINT) AS rarity,
      |  CAST(sum(tf * w) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS rarity_per_tok
      |FROM tf JOIN w USING (tok) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X56: DSIR-shaped importance weighting toward a target domain ----

  /** Target sample = doc_id ≡ 0 (mod 97) (x38/x49's probe split — the
    * "domain I want more of" sample), corpus = the rest; word 3-gram
    * features (the discriminative unit on this corpus, x49's note). */
  val ImportanceK = 3

  def x56ImportanceSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Curation.importanceWeights(
      d.filter(col("doc_id") % 97 =!= 0),
      d.filter(col("doc_id") % 97 === 0), ImportanceK)
      .orderBy(col("doc_id"))
  }

  val x56Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |       FROM tk, unnest(range(1, len(ts) - ${ImportanceK - 2})) AS u(i)
       |       WHERE len(ts) >= $ImportanceK),
       |csh AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
       |tdf AS (SELECT shingle, count(*) AS t_df FROM sh WHERE doc_id % 97 = 0 GROUP BY 1),
       |cdf AS (SELECT shingle, count(*) AS c_df FROM csh GROUP BY 1)
       |SELECT csh.doc_id, count(*) AS n_sh,
       |  CAST(sum((coalesce(t_df, 0) + 1) * 1000000000000 // (c_df + 1)) AS BIGINT)
       |    AS importance,
       |  CAST(sum((coalesce(t_df, 0) + 1) * 1000000000000 // (c_df + 1)) AS BIGINT)
       |    // count(*) AS importance_per_sh
       |FROM csh JOIN cdf USING (shingle) LEFT JOIN tdf USING (shingle)
       |GROUP BY csh.doc_id ORDER BY csh.doc_id""".stripMargin

  // ---- X62: bigram-LM score (order-2 conditional-probability proxy) ----

  def x62BigramLm(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bigramLmScore(docs(spark, dir))
      .orderBy(col("doc_id"))

  val x62Sql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] AS u, ts[i] || ' ' || ts[i+1] AS b
      |       FROM tk, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
      |tf AS (SELECT doc_id, u, b, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
      |c2 AS (SELECT u, b, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1, 2),
      |c1 AS (SELECT u, CAST(sum(tf) AS BIGINT) AS c1 FROM tf GROUP BY 1),
      |w AS (SELECT b, (c2 * 1000000000000) // c1 AS w
      |      FROM c2 JOIN c1 USING (u))
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |  CAST(sum(tf * w) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS lm_mean_e12,
      |  CAST(min(w) AS BIGINT) AS lm_min_e12
      |FROM tf JOIN w USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X73: cross-corpus smoothed LM score (CCNet-style filter) --------

  /** Reference = docs with doc_id ≡ 0 (mod 3) (~1/3 of the corpus), target
    * = the rest: big enough that the reference LM covers common
    * transitions, small enough that real OOV bigrams occur in the target
    * (the smoothing branch is exercised, not just compiled). */
  def x73LmCross(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.CorpusStats.lmCrossScore(
      d.filter(col("doc_id") % 3 === 0),
      d.filter(col("doc_id") % 3 =!= 0))
      .orderBy(col("doc_id"))
  }

  val x73Sql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] AS u, ts[i] || ' ' || ts[i+1] AS b
      |       FROM tk, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
      |rc2 AS (SELECT u, b, CAST(count(*) AS BIGINT) AS c2
      |        FROM bg WHERE doc_id % 3 = 0 GROUP BY 1, 2),
      |rc1 AS (SELECT u, CAST(sum(c2) AS BIGINT) AS c1 FROM rc2 GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM
      |        (SELECT unnest(string_split(text, ' ')) AS tok
      |         FROM documents WHERE doc_id % 3 = 0)),
      |tf AS (SELECT doc_id, u, b, CAST(count(*) AS BIGINT) AS tf
      |       FROM bg WHERE doc_id % 3 <> 0 GROUP BY 1, 2, 3),
      |sc AS (SELECT tf.doc_id, tf.tf,
      |         CASE WHEN rc1.c1 IS NULL THEN 1000000000000 // v.v
      |              ELSE (coalesce(rc2.c2, 0) + 1) * 1000000000000 // (rc1.c1 + v.v)
      |         END AS w,
      |         CASE WHEN rc2.c2 IS NULL THEN tf.tf ELSE 0 END AS oov
      |       FROM tf LEFT JOIN rc2 USING (u, b) LEFT JOIN rc1 USING (u) CROSS JOIN v),
      |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |          CAST(sum(tf * w) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS score_e12,
      |          CAST(sum(oov) AS BIGINT) AS n_oov
      |        FROM sc GROUP BY 1),
      |m AS (SELECT CAST(sum(score_e12) AS BIGINT) // count(*) AS mean_e12 FROM agg)
      |SELECT doc_id, n_bigrams, score_e12, n_oov,
      |  score_e12 >= m.mean_e12 AS above_avg
      |FROM agg CROSS JOIN m ORDER BY doc_id""".stripMargin

  // ---- X64: per-source quota cap (two-phase windowed top-k) ------------

  /** k = 60: at sf0.01 each of the 5 sources holds ~100 docs (the cap
    * bites everywhere), at sf0.1 ~1000 (bites hard) — while sf0.001's
    * ~10-doc sources pass through whole, exercising the under-quota
    * branch. */
  val QuotaK = 60

  def x64SourceQuota(spark: SparkSession, dir: String): DataFrame =
    Curation.sourceQuota(docs(spark, dir), QuotaK)
      .orderBy(col("source"), col("rn"))

  val x64Sql: String = {
    val pri = graft.functions.TextFns.h31Sql("'quota:' || CAST(doc_id AS VARCHAR)")
    s"""WITH p AS (SELECT source, doc_id, $pri AS pri FROM documents),
       |r AS (SELECT source, doc_id,
       |        row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
       |      FROM p)
       |SELECT source, rn, doc_id FROM r WHERE rn <= $QuotaK
       |ORDER BY source, rn""".stripMargin
  }

  // ---- X49: df-weighted token-overlap retrieval (BM25-shaped top-k) ----

  /** Probe set = docs with doc_id ≡ 0 (mod 97), corpus = the rest — the
    * same probe/corpus split as x38 (retrieval and decontamination are the
    * same broadcast-probe shape at different aggregation grain). Terms are
    * word 3-grams: this corpus's unigram vocabulary is deliberately tiny
    * (≤ 63 tokens for x18's bitmask), so every unigram is a stopword —
    * shingle terms are the discriminative unit, as in near-dup retrieval
    * practice. */
  val RetrievalK = 5
  val RetrievalMaxDfFrac = 0.2
  val RetrievalTermK = 3

  def x49RetrievalTopK(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Curation.retrieveTopK(
      d.filter(col("doc_id") % 97 =!= 0),
      d.filter(col("doc_id") % 97 === 0),
      RetrievalK, RetrievalMaxDfFrac, RetrievalTermK)
      .orderBy(col("q_id"), col("rn"))
  }

  val x49Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS tok
       |       FROM tk, unnest(range(1, len(ts) - ${RetrievalTermK - 2})) AS u(i)
       |       WHERE len(ts) >= $RetrievalTermK),
       |q AS (SELECT DISTINCT doc_id AS q_id, tok FROM tg WHERE doc_id % 97 = 0),
       |ct AS (SELECT doc_id, tok FROM tg WHERE doc_id % 97 <> 0),
       |corpus AS (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0),
       |mt AS (SELECT ct.doc_id, ct.tok FROM ct
       |       JOIN (SELECT DISTINCT tok FROM q) qv USING (tok)),
       |tfs AS (SELECT doc_id, tok, count(*) AS tf FROM mt GROUP BY 1, 2),
       |n AS (SELECT count(*) AS n_corpus FROM corpus),
       |wt AS (SELECT tok, CAST(floor(1e12 / (count(*) + 1)) AS BIGINT) AS w
       |       FROM tfs GROUP BY tok
       |       HAVING count(*) <= (SELECT floor($RetrievalMaxDfFrac * n_corpus) FROM n)),
       |sc AS (SELECT q.q_id, tfs.doc_id, CAST(sum(tfs.tf * wt.w) AS BIGINT) AS score
       |       FROM tfs JOIN wt USING (tok) JOIN q USING (tok)
       |       WHERE q.q_id <> tfs.doc_id GROUP BY 1, 2),
       |r AS (SELECT q_id, doc_id, score,
       |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rn
       |      FROM sc)
       |SELECT q_id, rn, doc_id, score FROM r WHERE rn <= $RetrievalK
       |ORDER BY q_id, rn""".stripMargin

  // ---- X66: BPE pair mining (tokenizer-training inner loop) ------------

  /** The first iteration of BPE merge training, scored exactly: corpus →
    * word-frequency table (the ONLY corpus-sized pass) → frequency-weighted
    * adjacent-character pair counts → top-[[BpePairK]] merge candidates.
    * The full iterative trainer is [[graft.operators.Bpe.train]] (law-tested
    * against a driver-side reference in BpeSpec); each of its rounds is this
    * same vocab-sized count with only the one winning pair collected. */
  val BpePairK = 20

  def x66BpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.initSymbols(
          graft.operators.Bpe.wordFreqs(docs(spark, dir))))
      .select(concat(col("a"), col("b")).as("pair"), col("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(BpePairK)

  val x66Sql: String =
    s"""WITH wf AS (SELECT tok, count(*) AS f
       |            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |            WHERE length(tok) > 0 GROUP BY tok),
       |p AS (SELECT substr(tok, CAST(i AS BIGINT), 2) AS pair, f
       |      FROM wf, unnest(range(1, length(tok))) AS u(i)
       |      WHERE length(tok) >= 2)
       |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
       |FROM p GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT $BpePairK""".stripMargin

  // ---- X74: BPE encode — tokenize the corpus under a merge table -------

  /** Tokenizer model depth for the scored encode: enough chained merges
    * that multi-character symbols form and later merges run over MERGED
    * symbol streams (the part a single-round count never exercises), few
    * enough that the oracle's unrolled replay stays readable. */
  val BpeEncodeK = 10

  /** X74 — the tokenizer-ENCODE side of the BPE surface, scored: apply a
    * [[BpeEncodeK]]-deep ordered merge table to every word of the corpus
    * ([[graft.operators.Bpe.encode]] — k chained left-to-right
    * non-overlapping codegen folds, a pure projection: zero shuffles,
    * streaming-safe) and report per-doc token counts. The merge table is
    * the round-1 pair ranking x66 already scores — a FIXED tokenizer
    * model derived once (model-sized driver collect, the same contract as
    * `Bpe.train`'s winner rows), which keeps the oracle exact: DuckDB
    * replays the same merges as string rewrites over a
    * separator-delimited symbol stream (doubled separators make symbol
    * boundaries unforgeable, and SQL `replace`'s left-to-right
    * non-overlapping scan is exactly the fold's merge rule). */
  def x74BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.initSymbols(graft.operators.Bpe.wordFreqs(d)))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(BpeEncodeK)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    graft.operators.Bpe.encode(d, merges)
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), w -> length(w) > 0)")).cast("long")
          .as("n_words"),
        col("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val x74Sql: String = {
    // one rewrite stage per merge rank: symbols are ␟-delimited with
    // doubled interior separators so a pattern can never match across or
    // inside a symbol, and adjacent occurrences stay replaceable
    val sep = "chr(31)"
    def pat(k: Int) =
      s"$sep || a$k || $sep || $sep || b$k || $sep"
    def rep(k: Int) = s"$sep || a$k || b$k || $sep"
    val ranks = (1 to BpeEncodeK).map { k =>
      s"r$k AS (SELECT substr(pair, 1, 1) AS a$k, substr(pair, 2, 1) AS b$k " +
        s"FROM topk WHERE rn = $k)"
    }.mkString(",\n")
    val stages = (1 to BpeEncodeK).map { k =>
      s"m$k AS (SELECT doc_id, replace(st, ${pat(k)}, ${rep(k)}) AS st " +
        s"FROM m${k - 1} CROSS JOIN r$k)"
    }.mkString(",\n")
    s"""WITH wf AS (SELECT tok, count(*) AS f
       |            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |            WHERE length(tok) > 0 GROUP BY tok),
       |pc AS (SELECT substr(tok, CAST(i AS BIGINT), 2) AS pair, CAST(sum(f) AS BIGINT) AS cnt
       |       FROM wf, unnest(range(1, length(tok))) AS u(i)
       |       WHERE length(tok) >= 2 GROUP BY pair),
       |topk AS (SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rn
       |         FROM pc ORDER BY cnt DESC, pair LIMIT $BpeEncodeK),
       |$ranks,
       |words AS (SELECT doc_id, w FROM
       |            (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |          WHERE length(w) > 0),
       |m0 AS (SELECT doc_id,
       |         $sep || array_to_string(string_split(w, ''), $sep || $sep) || $sep AS st
       |       FROM words),
       |$stages
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum((length(st) - length(replace(st, $sep, ''))) // 2) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM m$BpeEncodeK GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- X90: tokenizer fertility per language ----------------------------

  /** X90 — TOKENIZER FERTILITY (BPE tokens per whitespace word) by
    * language: the standard tokenizer-evaluation metric for how well a
    * vocabulary fits each corpus slice (a language the merges were not
    * trained on fragments into more pieces per word). Composes x74's
    * scored encode (the [[BpeEncodeK]]-deep merge fold) with doc
    * metadata; the ratio is exact integer ppm. The per-doc encode is a
    * pure projection (zero shuffles), so the whole query is one
    * doc_id-keyed join plus one lang-keyed partial+final agg. */
  def x90Fertility(spark: SparkSession, dir: String): DataFrame =
    x74BpeEncode(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("n_words"),
           sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .withColumn("fertility_ppm", expr("n_bpe_tokens * 1000000 div n_words"))
      .orderBy(col("lang"))

  /** Wraps x74's full replay as a subquery and rolls it up per lang. */
  val x90Sql: String =
    s"""SELECT d.lang, count(*) AS n_docs,
       |  CAST(sum(e.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |  (CAST(sum(e.n_bpe_tokens) AS BIGINT) * 1000000)
       |    // CAST(nullif(sum(e.n_words), 0) AS BIGINT) AS fertility_ppm
       |FROM ($x74Sql) e JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---- X68: balanced training-shard assignment -------------------------

  /** Enough shards that balance quality is visible, few enough that every
    * shard gets hundreds of documents at the correctness SF. */
  val NumShards = 16

  /** X68 — deal the corpus onto [[NumShards]] training shards, longest
    * document first, round-robin by global size rank
    * ([[graft.operators.Curation.shardAssign]]); the scored result is the
    * per-shard (doc count, token total) balance sheet. The oracle spells
    * the same assignment with a global `row_number()` window — the exact
    * single-task form the engine's hierarchical rank avoids. */
  def x68ShardPack(spark: SparkSession, dir: String): DataFrame =
    Curation.shardAssign(docs(spark, dir), NumShards)
      .orderBy(col("shard"))

  val x68Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM documents),
       |r AS (SELECT n_tok,
       |        row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rn
       |      FROM d)
       |SELECT (rn - 1) % $NumShards AS shard, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
       |FROM r GROUP BY 1 ORDER BY shard""".stripMargin

  // ---- X76: token concentration (exact Simpson index) -------------------

  /** Per-doc Simpson concentration — the exact-rational quality signal
    * (see [[graft.operators.Curation.tokenDiversity]]); complements x34's
    * single-mode rep_ratio with a whole-distribution measure. */
  def x76TokenDiversity(spark: SparkSession, dir: String): DataFrame =
    Curation.tokenDiversity(docs(spark, dir)).orderBy(col("doc_id"))

  val x76Sql: String =
    """WITH tc AS (
      |  SELECT doc_id, tok, count(*)::BIGINT AS n
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |d AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
      |        count(*)::BIGINT AS n_distinct,
      |        CAST(sum(n * (n - 1)) AS BIGINT) AS rep_pairs
      |      FROM tc GROUP BY doc_id)
      |SELECT doc_id, n_tok, n_distinct, rep_pairs,
      |  CAST(rep_pairs AS DOUBLE) / CAST(n_tok * (n_tok - 1) AS DOUBLE) AS simpson,
      |  CAST(rep_pairs AS DOUBLE) / CAST(n_tok * (n_tok - 1) AS DOUBLE) > 0.1 AS is_concentrated
      |FROM d WHERE n_tok >= 2 ORDER BY doc_id""".stripMargin

  // ---- X77: length-bucketed batching audit ------------------------------

  val BucketTokens = 64

  /** Padding-waste report at 64-token buckets — the batching-efficiency
    * audit (see [[graft.operators.Curation.lengthBuckets]]). */
  def x77LengthBuckets(spark: SparkSession, dir: String): DataFrame =
    Curation.lengthBuckets(docs(spark, dir), BucketTokens).orderBy(col("bucket"))

  val x77Sql: String =
    s"""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM documents),
       |b AS (SELECT ((n_tok + ${BucketTokens - 1}) // $BucketTokens) * $BucketTokens AS bucket,
       |        count(*) AS n_seqs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
       |      FROM d GROUP BY 1)
       |SELECT bucket, n_seqs, total_tokens,
       |  bucket * n_seqs - total_tokens AS padding_waste,
       |  CAST(bucket * n_seqs - total_tokens AS DOUBLE)
       |    / CAST(bucket * n_seqs AS DOUBLE) AS waste_frac
       |FROM b ORDER BY bucket""".stripMargin

  // ---- X79: continuous shard deal, SCORED as a stream -------------------

  /** The x68 shard deal run through the STREAMING maintenance path: the
    * corpus lands as JSON lines, [[graft.streaming.EventStreams.shardDealStream]]
    * deals it onto the shards (one AvailableNow batch from an empty
    * assignment table — the fold StreamingIngestSpec proves ≡ the batch
    * [[graft.operators.Curation.shardAssign]]), and the scored result is
    * the per-shard rollup of the MAINTAINED TABLE itself. Same oracle as
    * x68: three spellings (batch plan, streamed fold, DuckDB SQL), one
    * answer. */
  def x79StreamShard(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_x79_") { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val assign = new java.io.File(tmp, "assign").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      // one landed file → one AvailableNow batch → the from-empty fold law
      docs(spark, dir).select(col("doc_id"), col("text"))
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.shardDealStream(spark, landing, assign, ckpt, NumShards)
      val res = spark.read.parquet(assign)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      // NumShards rows: materialize so the temp state/checkpoint can drop
      graft.util.Materialize.sorted(res, col("shard"))
    }

  val x79Sql: String = x68Sql

  // ---- X80: end-to-end curation funnel report ----------------------------

  val FunnelMinTok = 5L
  val FunnelMinTtr = 0.3
  val FunnelQuotaK = 40

  /** Gate → exact dedup → per-source quota, reported as the per-source
    * funnel (see [[graft.operators.Curation.curationFunnel]]). The oracle
    * groups the dedup stage on text itself (sha256 is injective on this
    * corpus — the x46 argument) and spells the quota as the single
    * window whose two-phase equivalence CurationSpec proves. */
  def x80CurationFunnel(spark: SparkSession, dir: String): DataFrame =
    Curation.curationFunnel(docs(spark, dir), FunnelMinTok, FunnelMinTtr, FunnelQuotaK)
      .orderBy(col("source"))

  val x80Sql: String = {
    val pri = graft.functions.TextFns.h31Sql("'quota:' || CAST(doc_id AS VARCHAR)")
    s"""WITH f AS (SELECT doc_id, source, text,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / len(string_split(text, ' ')) AS ttr
       |           FROM documents),
       |g AS (SELECT * FROM f WHERE n_tok >= $FunnelMinTok AND ttr >= $FunnelMinTtr),
       |u AS (SELECT g.* FROM g
       |      JOIN (SELECT min(doc_id) AS doc_id FROM g GROUP BY text) kk USING (doc_id)),
       |q AS (SELECT source, doc_id,
       |        row_number() OVER (PARTITION BY source ORDER BY $pri, doc_id) AS rn
       |      FROM u),
       |k AS (SELECT u.source, u.n_tok FROM u
       |      JOIN (SELECT doc_id FROM q WHERE rn <= $FunnelQuotaK) qs USING (doc_id)),
       |a AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |gg AS (SELECT source, count(*) AS n_gated FROM g GROUP BY source),
       |uu AS (SELECT source, count(*) AS n_unique FROM u GROUP BY source),
       |kk2 AS (SELECT source, count(*) AS n_kept,
       |          CAST(sum(n_tok) AS BIGINT) AS tokens_kept FROM k GROUP BY source)
       |SELECT a.source, a.n_docs,
       |  CAST(coalesce(gg.n_gated, 0) AS BIGINT) AS n_gated,
       |  CAST(coalesce(uu.n_unique, 0) AS BIGINT) AS n_unique,
       |  CAST(coalesce(kk2.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(kk2.tokens_kept, 0) AS BIGINT) AS tokens_kept
       |FROM a LEFT JOIN gg USING (source) LEFT JOIN uu USING (source)
       |  LEFT JOIN kk2 USING (source)
       |ORDER BY a.source""".stripMargin
  }

  // ---- X81: training-mix planning (uniform budget split) -----------------

  val MixBudgetFrac = 0.5

  /** Per-source sampling rates for a half-corpus token budget (see
    * [[graft.operators.Curation.mixturePlan]]). */
  def x81MixturePlan(spark: SparkSession, dir: String): DataFrame =
    Curation.mixturePlan(docs(spark, dir), MixBudgetFrac).orderBy(col("source"))

  // ---- X83: curriculum ordering ------------------------------------------

  val CurriculumTiers = 10

  /** Quality-tiered, hash-shuffled training order (see
    * [[graft.operators.Curation.curriculumOrder]]); the oracle replays
    * the decile cut and the within-tier shuffle with window ranks. */
  def x83CurriculumOrder(spark: SparkSession, dir: String): DataFrame =
    Curation.curriculumOrder(docs(spark, dir), CurriculumTiers)
      .orderBy(col("pos"))

  val x83Sql: String = {
    val shuf = graft.functions.TextFns.h31Sql("'cur:' || CAST(doc_id AS VARCHAR)")
    s"""WITH s AS (SELECT doc_id,
       |  0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |    + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / len(string_split(text, ' '))) AS score
       |  FROM documents),
       |r AS (SELECT doc_id,
       |        row_number() OVER (ORDER BY score DESC, doc_id) AS grank,
       |        count(*) OVER () AS n_total
       |      FROM s),
       |tr AS (SELECT doc_id, ((grank - 1) * $CurriculumTiers) // n_total AS tier,
       |         $shuf AS shuf FROM r)
       |SELECT doc_id, tier,
       |  row_number() OVER (ORDER BY tier, shuf, doc_id) AS pos
       |FROM tr ORDER BY pos""".stripMargin
  }

  // ---- X84: span-corruption plan (T5-style denoising objective) ----------

  val CorruptBlockTokens = 10
  val CorruptMaskPct = 15

  /** Deterministic block-level span-corruption plan (see
    * [[graft.operators.Curation.spanCorruptionPlan]]). */
  def x84SpanCorruption(spark: SparkSession, dir: String): DataFrame =
    Curation.spanCorruptionPlan(docs(spark, dir), CorruptBlockTokens, CorruptMaskPct)
      .orderBy(col("doc_id"))

  val x84Sql: String = {
    val gate = graft.functions.TextFns.h31Sql(
      "CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    // DuckDB's array_to_string is NULL on an empty/NULL list where Spark's
    // array_join gives '' — coalesce AFTER the join, not on the list
    val fp = graft.functions.TextFns.h31Sql(
      "coalesce(array_to_string(list_sort(list(b) FILTER (WHERE masked)), ','), '')")
    s"""WITH tk AS (SELECT doc_id,
       |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |            FROM documents),
       |bl AS (SELECT doc_id, n_tok, b,
       |         least($CorruptBlockTokens, n_tok - b * $CorruptBlockTokens) AS b_len
       |       FROM tk, unnest(range(0,
       |         (n_tok + ${CorruptBlockTokens - 1}) // $CorruptBlockTokens)) AS u(b)),
       |m AS (SELECT doc_id, b, b_len,
       |        $gate % 100 < $CorruptMaskPct AS masked FROM bl)
       |SELECT doc_id, count(*) AS n_blocks,
       |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  CAST(sum(CASE WHEN masked THEN b_len ELSE 0 END) AS BIGINT) AS n_masked_tokens,
       |  $fp AS masked_fp
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- X82: segment EXCISION (the cleaned corpus itself) -----------------

  /** The x46 keep decision applied: every doc rebuilt from its
    * first-occurrence spans ([[graft.operators.Curation.segmentExcise]]).
    * The oracle rebuilds the same text with an ordered string_agg and
    * hashes it — a single flipped token anywhere in the reconstruction
    * flips the fp. */
  def x82SegmentExcise(spark: SparkSession, dir: String): DataFrame =
    Curation.segmentExcise(docs(spark, dir), SegTokens).orderBy(col("doc_id"))

  val x82Sql: String = {
    val fp = graft.functions.TextFns.h31Sql("coalesce(a.cleaned, '')")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |sg AS (SELECT doc_id, s,
       |         array_to_string(list_slice(ts, s * $SegTokens + 1,
       |                                    least((s + 1) * $SegTokens, len(ts))), ' ') AS seg,
       |         least($SegTokens, len(ts) - s * $SegTokens) AS sl
       |       FROM tk, unnest(range(0, (len(ts) + ${SegTokens - 1}) // $SegTokens)) AS u(s)),
       |k AS (SELECT doc_id, s, seg, sl,
       |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, s) AS rn
       |      FROM sg),
       |a AS (SELECT doc_id, CAST(sum(sl) AS BIGINT) AS n_tokens_kept,
       |        string_agg(seg, ' ' ORDER BY s) AS cleaned
       |      FROM k WHERE rn = 1 GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       |  $fp AS cleaned_fp
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  val x81Sql: String =
    s"""WITH per AS (SELECT source,
       |               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |             FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
       |          count(*) AS n_sources FROM per),
       |p AS (SELECT source, n_tokens,
       |        CAST(floor(CAST(total AS DOUBLE) * $MixBudgetFrac) AS BIGINT)
       |          // n_sources AS quota_tokens
       |      FROM per, tot)
       |SELECT source, n_tokens, quota_tokens,
       |  least(1.0, CAST(quota_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS rate,
       |  least(quota_tokens, n_tokens) AS planned_tokens,
       |  quota_tokens - least(quota_tokens, n_tokens) AS deficit
       |FROM p ORDER BY source""".stripMargin

  // ---- X87: duplicated-n-gram coverage (RefinedWeb repetition filter) ---

  /** 5-grams: RefinedWeb's mid-size duplicated-n-gram filter — long
    * enough that natural language rarely repeats one by accident, short
    * enough to catch looped boilerplate passages. */
  val DupCovN = 5

  def x87DupNgramCov(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.dupNgramCoverage(docs(spark, dir), DupCovN)
      .orderBy(col("doc_id"))

  val x87Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |base AS (SELECT doc_id, len(ts) AS n_tokens, ts FROM tk),
       |sh AS (SELECT doc_id, i,
       |         array_to_string(list_slice(ts, i, i + ${DupCovN - 1}), ' ') AS sh
       |       FROM base, unnest(range(1, n_tokens - ${DupCovN - 2})) AS u(i)
       |       WHERE n_tokens >= $DupCovN),
       |dup AS (SELECT doc_id, i FROM (
       |          SELECT doc_id, i,
       |            count(*) OVER (PARTITION BY doc_id, sh) AS cnt FROM sh)
       |        WHERE cnt >= 2),
       |cov AS (SELECT DISTINCT doc_id, p
       |        FROM dup, unnest(range(i, i + $DupCovN)) AS r(p)),
       |cc AS (SELECT doc_id, count(*) AS n_dup FROM cov GROUP BY doc_id)
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(cc.n_dup, 0) AS BIGINT) AS n_dup_tokens,
       |  (CAST(coalesce(cc.n_dup, 0) AS BIGINT) * 1000000)
       |    // CAST(b.n_tokens AS BIGINT) AS dup_cov_ppm
       |FROM base b LEFT JOIN cc USING (doc_id) ORDER BY b.doc_id""".stripMargin

  // ---- X91: streaming segment-dedup gate, scored -------------------------

  /** X91 — the SEGMENT-DEDUP GATE run as an actual ingest stream and
    * scored against x46's oracle verbatim: documents land as JSON lines,
    * [[graft.streaming.EventStreams.segmentGateStream]] folds each
    * micro-batch through `segmentDedupIncremental` (first-occurrence
    * judged against corpus ∪ batch) and maintains the per-doc stats table
    * through the idempotent DedupAppend. From an empty corpus the fold
    * equals the one-shot batch segmentation (the StreamingIngestSpec
    * law); this entry makes that law a scored fact — the continuous
    * C4-style span-dedup service a 100 TB ingest actually runs, with
    * history probed via the stored span index rather than re-segmented. */
  def x91StreamSegment(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_x91_") { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val corpus = new java.io.File(tmp, "corpus").getAbsolutePath
      val stats = new java.io.File(tmp, "stats").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      docs(spark, dir).select(col("doc_id"), col("text"))
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.segmentGateStream(
        spark, landing, corpus, stats, ckpt, SegTokens)
      val res = spark.read.parquet(stats)
        .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
          col("n_tokens_kept"))
      // one row per doc: materialize so the temp landing/corpus drop
      graft.util.Materialize.sorted(res, col("doc_id"))
    }

  /** Streamed gate from empty ≡ batch segmentation: x46's oracle. */
  val x91Sql: String = x46Sql

  // ---- X88: content-defined chunking (CDC dedup segmentation) ----------

  /** Rolling gram size and cut divisor: boundaries re-synchronize within
    * ~CdcDivisor tokens of any edit, so expected chunk length ≈ 8. */
  val CdcK = 4
  val CdcDivisor = 8

  def x88CdcChunks(spark: SparkSession, dir: String): DataFrame =
    Curation.cdcChunks(docs(spark, dir), CdcK, CdcDivisor)
      .orderBy(col("doc_id"))

  /** Oracle groups on the chunk text itself where the engine groups on
    * sha256(chunk) — identical partitions (x46's injectivity argument). */
  val x88Sql: String = {
    val gram = s"array_to_string(list_slice(ts, i - ${CdcK - 1}, i), ' ')"
    val h = TextFns.h31Sql(gram)
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |c0 AS (SELECT doc_id, ts, len(ts) AS n,
       |         list_filter(range($CdcK, greatest(len(ts), $CdcK) + 1),
       |           i -> i < len(ts) AND ($h % $CdcDivisor = 0)) AS cuts
       |       FROM tk),
       |b AS (SELECT doc_id, ts, ([0] || cuts || [n]) AS bounds FROM c0),
       |ch AS (SELECT doc_id,
       |         bounds[j + 1] - bounds[j] AS clen,
       |         array_to_string(list_slice(ts, bounds[j] + 1, bounds[j + 1]), ' ') AS ctext
       |       FROM b, unnest(range(1, len(bounds))) AS u(j)),
       |dc AS (SELECT ctext, count(DISTINCT doc_id) AS nd FROM ch GROUP BY ctext)
       |SELECT ch.doc_id, count(*) AS n_chunks,
       |  CAST(sum(clen) AS BIGINT) AS n_tokens,
       |  CAST(count(CASE WHEN nd >= 2 THEN 1 END) AS BIGINT) AS n_shared,
       |  CAST(sum(CASE WHEN nd >= 2 THEN clen ELSE 0 END) AS BIGINT) AS n_shared_tokens,
       |  (CAST(sum(CASE WHEN nd >= 2 THEN clen ELSE 0 END) AS BIGINT) * 1000000)
       |    // CAST(sum(clen) AS BIGINT) AS shared_ppm
       |FROM ch JOIN dc USING (ctext)
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin
  }

  // ---- X89: inverted n-gram index via the custom GENERATOR --------------

  /** Minimum document frequency for an index entry — keeps the posting
    * report on corpus-recurring grams (the retrieval-relevant ones). */
  val NgramIndexMinDf = 5

  /** X89 — inverted 3-gram index built through `ngrams_gen`, the engine's
    * custom Catalyst GENERATOR ([[graft.functions.NGramsGen]], injected
    * via GraftExtensions and used here from SQL as
    * `LATERAL VIEW ngrams_gen(ts, 3)`): per corpus-recurring gram, its
    * document frequency, occurrence count, and first (doc, pos) posting.
    * The generator streams one row at a time out of each doc's token
    * array — no intermediate shingle-array materialization (the
    * transform(sequence(...)) idiom allocates the whole per-doc shingle
    * list before exploding), and it encapsulates the size<n edge the
    * idiom must re-guard at every call site.
    *
    * Scale shape: one corpus-sized generate → one (gram)-keyed
    * partial+final agg (min_by/count all map-side combinable); the df
    * gate bounds the output to recurring grams. */
  def x89NgramIndex(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .createOrReplaceTempView("docs_x89")
    // the first posting is the LEXICOGRAPHIC (doc_id, pos) minimum — a
    // struct min, not an arithmetic doc*K+pos key (which collides once a
    // doc exceeds K tokens and makes two independent min_by calls pick
    // different tied rows)
    spark.sql(
      s"""WITH occ AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, gram
         |  FROM docs_x89 LATERAL VIEW ngrams_gen(ts, 3) g AS pos, gram),
         |a AS (
         |  SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS n_occ,
         |    min(struct(doc_id, pos)) AS f
         |  FROM occ GROUP BY gram)
         |SELECT gram, df, n_occ, f.doc_id AS first_doc, f.pos AS first_pos
         |FROM a WHERE df >= $NgramIndexMinDf ORDER BY gram""".stripMargin)
  }

  /** The oracle replays the lexicographic posting minimum as two stages
    * (min doc, then min pos within it) — exact at any doc length. */
  val x89Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |occ AS (SELECT doc_id, i AS pos,
       |          array_to_string(list_slice(ts, i, i + 2), ' ') AS gram
       |        FROM tk, unnest(range(1, len(ts) - 1)) AS u(i)
       |        WHERE len(ts) >= 3),
       |a AS (SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS n_occ,
       |        min(doc_id) AS first_doc
       |      FROM occ GROUP BY gram),
       |fp AS (SELECT o.gram, min(o.pos) AS first_pos
       |       FROM occ o JOIN a ON o.gram = a.gram AND o.doc_id = a.first_doc
       |       GROUP BY o.gram)
       |SELECT a.gram, a.df, a.n_occ, a.first_doc,
       |  CAST(fp.first_pos AS BIGINT) AS first_pos
       |FROM a JOIN fp USING (gram)
       |WHERE df >= $NgramIndexMinDf ORDER BY gram""".stripMargin

  // ---- X86: distinctive-term extraction (integer contrastive TF-IDF) ----

  /** Minimum in-subset occurrences for a term to be rankable — keeps the
    * ranking on genuinely characteristic vocabulary rather than the long
    * tail of hapaxes (which would all tie at the exclusivity cap). */
  val DistinctTermMinCount = 10

  /** X86 — per-language DISTINCTIVE TERMS: the top-3 tokens most
    * over-represented in each language vs the whole corpus, ranked by the
    * lift ratio P(tok|lang) / P(tok) = (c_lt · T) / (c_t · T_l). This is
    * the corpus-contrast analysis a curation run uses to characterize a
    * source/language slice (what vocabulary makes this slice different?)
    * — TF-IDF's discriminative core, computed in EXACT integer
    * arithmetic: the ratio is emitted as parts-per-million via one
    * BIGINT multiply-then-integer-divide, so ranking and output are
    * bit-equal across engines with no logarithm or float division
    * anywhere. (Widen to DECIMAL(38,0) beyond ~10⁸ corpus tokens where
    * c_lt·T·10⁶ approaches the int64 range; both engines support it.)
    *
    * Scale shape: ONE corpus-sized aggregation — the (lang, token) count
    * — and everything downstream derives from it: per-token totals are a
    * vocab-sized re-agg, per-lang totals collapse to #langs rows and
    * broadcast, the corpus total joins as a single-row broadcast. The
    * top-3 window runs on the vocab-sized scored frame partitioned by
    * lang, never on the corpus. */
  def x86DistinctTerms(spark: SparkSession, dir: String): DataFrame = {
    val clt = docs(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c_lt"))
    val ct = clt.groupBy(col("tok")).agg(sum(col("c_lt")).as("c_t"))
    val tl = clt.groupBy(col("lang")).agg(sum(col("c_lt")).as("t_l"))
    val tot = clt.agg(sum(col("c_lt")).as("t_all"))
    val scored = clt.filter(col("c_lt") >= DistinctTermMinCount)
      .join(ct, "tok")
      .join(broadcast(tl), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("score_ppm", expr("c_lt * t_all * 1000000 div (c_t * t_l)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score_ppm").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("lang"), col("rank"), col("tok"), col("c_lt"),
        col("score_ppm").cast("bigint").as("score_ppm"))
      .orderBy(col("lang"), col("rank"))
  }

  val x86Sql: String =
    s"""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
       |clt AS (SELECT lang, tok, count(*) AS c_lt FROM tok GROUP BY 1, 2),
       |ct AS (SELECT tok, sum(c_lt) AS c_t FROM clt GROUP BY 1),
       |tl AS (SELECT lang, sum(c_lt) AS t_l FROM clt GROUP BY 1),
       |tot AS (SELECT sum(c_lt) AS t_all FROM clt),
       |sc AS (SELECT c.lang, c.tok, c.c_lt,
       |         (c.c_lt * t.t_all * 1000000) // (ct.c_t * tl.t_l) AS score_ppm
       |       FROM clt c JOIN ct USING (tok) JOIN tl USING (lang) CROSS JOIN tot t
       |       WHERE c.c_lt >= $DistinctTermMinCount),
       |rk AS (SELECT lang, tok, c_lt, score_ppm,
       |         row_number() OVER (PARTITION BY lang
       |                            ORDER BY score_ppm DESC, tok) AS rank
       |       FROM sc)
       |SELECT lang, CAST(rank AS BIGINT) AS rank, tok, c_lt,
       |  CAST(score_ppm AS BIGINT) AS score_ppm
       |FROM rk WHERE rank <= 3 ORDER BY lang, rank""".stripMargin
}
