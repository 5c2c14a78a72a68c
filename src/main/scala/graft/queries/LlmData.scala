package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.functions.TextFns
import graft.operators.{Similarity, TextDedup}

/** LLM-training-data extension queries (SURVEY.md §2.3/§2.4 X17–X20 plus the
  * wider dedup/similarity/text/multimodal battery the north star requires).
  * Everything is hash-checked against DuckDB — including MinHash-LSH (exact
  * recall at the mined threshold, verified) and SimHash-LSH (exact recall by
  * pigeonhole) — not just the trivially SQL-expressible parts.
  */
object LlmData {

  private def docs(spark: SparkSession, dir: String) = t(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String) = t(spark, dir, "embeddings")

  // ---- X17: exact dedup ------------------------------------------------

  def x17ExactDedup(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exact(docs(spark, dir)).orderBy(col("keep_id"))

  val x17Sql: String =
    """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---- X18: exact near-dup pairs (set Jaccard >= 0.9) ------------------

  val JaccThreshold = 0.9

  def x18NearDupJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.jaccardPairs(docs(spark, dir), JaccThreshold)
      .orderBy(col("a_id"), col("b_id"))

  /** Shared oracle for X18 and X21 (LSH recall is exact on this corpus —
    * miss-probability ≈ 6e-16 per pair at s=0.9 with 32×4 banding). */
  val x18Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |vocab AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS bit FROM (SELECT DISTINCT tok FROM tok)),
       |mask AS (SELECT doc_id, sum(1::BIGINT << bit)::BIGINT AS m
       |         FROM tok JOIN vocab USING (tok) GROUP BY doc_id)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(a.m & b.m) AS DOUBLE) / CAST(bit_count(a.m | b.m) AS DOUBLE) AS jacc
       |FROM mask a JOIN mask b ON a.doc_id < b.doc_id
       |WHERE CAST(bit_count(a.m & b.m) AS DOUBLE) / CAST(bit_count(a.m | b.m) AS DOUBLE) >= $JaccThreshold
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X19: brute-force cosine top-k -----------------------------------

  def x19CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, 5)
      .orderBy(col("p_id"), col("rn"))
  }

  private val cosSumCols =
    """CAST(sum(CAST(floor(x*y * 1e9) AS BIGINT)) AS BIGINT) AS dot,
      |  CAST(sum(CAST(floor(x*x * 1e9) AS BIGINT)) AS BIGINT) AS na,
      |  CAST(sum(CAST(floor(y*y * 1e9) AS BIGINT)) AS BIGINT) AS nb""".stripMargin
  private val cosRExpr =
    "CAST(floor((CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1000000.0) AS DOUBLE) / 1000000.0"

  val x19Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 10),
       |pr AS (SELECT p_id, e.vec_id AS n_id, unnest(pv) AS x, unnest(e.v) AS y
       |       FROM p, e WHERE e.vec_id != p_id),
       |s AS (SELECT p_id, n_id, $cosSumCols FROM pr GROUP BY 1, 2),
       |c AS (SELECT p_id, n_id, $cosRExpr AS cos_r FROM s),
       |r AS (SELECT p_id, n_id, cos_r,
       |        row_number() OVER (PARTITION BY p_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c)
       |SELECT p_id, rn, n_id, cos_r FROM r WHERE rn <= 5 ORDER BY p_id, rn""".stripMargin

  // ---- X20: per-language text stats ------------------------------------

  def x20TextStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast(LongType))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("total_tokens"),
           (sum(col("n_tok")).cast(DoubleType) / count(lit(1))).as("avg_tokens"),
           sum(col("n_chars")).as("total_chars"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  val x20Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X21: MinHash-LSH near-dups (verified candidates) ----------------

  def x21MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashNearDups(docs(spark, dir), JaccThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x21Sql: String = x18Sql

  // ---- X44: unbounded-vocab MinHash-LSH (same oracle as X18/X21) -------

  /** Scored over half the corpus (doc_id ≡ 0 mod 2): the unbounded form
    * shuffles ALL band candidates before its fetch-verify (the mask form
    * kills sub-threshold candidates inside the band join), and this
    * corpus's adversarial self-similarity makes that candidate stream
    * ~quadratic in cluster size — the battery already pays the
    * full-corpus LSH cost twice in x21/x35, and full-corpus equality of
    * the two forms is law-tested in TextDedupSpec. */
  def x44MinhashUnbounded(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashNearDupsUnbounded(
      docs(spark, dir).filter(pmod(col("doc_id"), lit(2)) === 0), JaccThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x44Sql: String =
    x18Sql.replace("FROM documents", "FROM (SELECT * FROM documents WHERE doc_id % 2 = 0)")

  // ---- X22: SimHash near-dups (hamming <= 3) ---------------------------

  def x22Simhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashNearDups(docs(spark, dir), 3)
      .orderBy(col("a_id"), col("b_id"))

  val x22Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |th AS (SELECT doc_id, ${TextFns.h60Sql("tok")} AS h FROM tok),
       |cnt AS (SELECT doc_id, count(*) AS n FROM th GROUP BY doc_id),
       |bits AS (SELECT doc_id, j, sum((h >> j) & 1) AS bitsum
       |         FROM th, range(60) t(j) GROUP BY doc_id, j),
       |sig AS (SELECT b.doc_id, CAST(sum(CASE WHEN 2 * b.bitsum > c.n THEN (1::BIGINT << b.j) ELSE 0 END) AS BIGINT) AS sh
       |        FROM bits b JOIN cnt c USING (doc_id) GROUP BY b.doc_id)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X29: word n-gram (shingle) Jaccard near-dup pairs ---------------

  /** Order-SENSITIVE near-dup mining: 3-gram shingle sets, exact Jaccard
    * via inverted-index intersection counts (TextDedup.ngramJaccardPairs).
    * Complements X18/X21's token-set form — reordering tokens breaks
    * shingles, so this finds true sequence-level duplication. */
  val NgramThreshold = 0.8

  def x29NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.ngramJaccardPairs(docs(spark, dir), 3, NgramThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x29Sql: String =
    s"""WITH rep AS (SELECT text, min(doc_id) AS rep_id FROM documents GROUP BY text),
       |mem AS (SELECT d.doc_id, r.rep_id FROM documents d JOIN rep r ON d.text = r.text),
       |rd AS (SELECT rep_id AS doc_id, text FROM rep),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM rd),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
       |       FROM tk, unnest(range(1, len(ts) - 1)) AS u(i) WHERE len(ts) >= 3),
       |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
       |itr AS (SELECT a.doc_id AS ra, b.doc_id AS rb, count(*) AS c
       |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |rp AS (SELECT ra, rb, CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) AS jacc
       |       FROM itr JOIN sz sa ON sa.doc_id = ra JOIN sz sb ON sb.doc_id = rb
       |       WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= $NgramThreshold),
       |crossp AS (SELECT least(m1.doc_id, m2.doc_id) AS a_id,
       |                  greatest(m1.doc_id, m2.doc_id) AS b_id, jacc
       |           FROM rp JOIN mem m1 ON m1.rep_id = ra JOIN mem m2 ON m2.rep_id = rb),
       |intra AS (SELECT m1.doc_id AS a_id, m2.doc_id AS b_id, CAST(1.0 AS DOUBLE) AS jacc
       |          FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id)
       |SELECT a_id, b_id, jacc FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra)
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X30: embedding-cosine near-dup pairs ----------------------------

  /** Exact cosine-threshold pair mining over the embedding corpus (the
    * semantic-dedup baseline; Similarity.cosineNearDups documents the
    * SRP-prefilter scale path). Threshold 0.40 sits in the corpus's upper
    * similarity tail (max pairwise cosine ≈ 0.51). */
  val CosineDupThreshold = 0.40

  def x30CosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(embs(spark, dir), CosineDupThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x30Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, unnest(a.v) AS x, unnest(b.v) AS y
       |       FROM e a JOIN e b ON a.vec_id < b.vec_id),
       |s AS (SELECT a_id, b_id, $cosSumCols FROM pr GROUP BY 1, 2),
       |c AS (SELECT a_id, b_id, $cosRExpr AS cos_r FROM s)
       |SELECT a_id, b_id, cos_r FROM c WHERE cos_r >= $CosineDupThreshold
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X36: banded-SRP cosine near-dup (scale path for X30) ------------

  /** X30's production shape: SRP band prefilter + exact cosine verify.
    * Sound (⊆ x30 with identical cos_r); the oracle replicates the
    * banding (x23's pattern) so the hash gate stays exact, and
    * SimilaritySpec measures recall vs the exact form — 1.0 in the
    * production regime (planted cos ≥ 0.95 neighbors), deterministic
    * partial recall on this corpus's 0.40 tail (regime math in the
    * [[graft.operators.Similarity.srpBandedNearDups]] scaladoc). */
  def x36CosineNearDupBanded(spark: SparkSession, dir: String): DataFrame =
    Similarity.srpBandedNearDups(embs(spark, dir), CosineDupThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x36Sql: String = {
    val n = Similarity.BandCount * Similarity.BandRows
    val unnests = (0 until n).map(j => s"unnest(${Similarity.bandPlaneSqlArray(j)}) AS h$j").mkString(", ")
    val sums = (0 until n).map(j =>
      s"CAST(sum(CAST(floor(x*h$j * 1e9) AS BIGINT)) AS BIGINT) AS d$j").mkString(",\n       |  ")
    val keys = (0 until Similarity.BandCount).map { b =>
      val bits = (0 until Similarity.BandRows)
        .map(j => s"CASE WHEN d${b * Similarity.BandRows + j} > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"CAST($bits AS BIGINT) AS k$b"
    }.mkString(",\n       |  ")
    val ors = (0 until Similarity.BandCount).map(b => s"a.k$b = b.k$b").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |f AS (SELECT vec_id, unnest(v) AS x, $unnests FROM e),
       |d AS (SELECT vec_id,
       |  $sums
       |  FROM f GROUP BY vec_id),
       |bk AS (SELECT vec_id,
       |  $keys
       |  FROM d),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |         FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ($ors)),
       |pf AS (SELECT a_id, b_id, unnest(ea.v) AS x, unnest(eb.v) AS y
       |       FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id),
       |s AS (SELECT a_id, b_id, $cosSumCols FROM pf GROUP BY 1, 2),
       |c AS (SELECT a_id, b_id, $cosRExpr AS cos_r FROM s)
       |SELECT a_id, b_id, cos_r FROM c WHERE cos_r >= $CosineDupThreshold
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- X31: IVF ANN (deterministic k-means, nprobe cell-pruned search) -

  /** Trained k-means centroids, computed ONCE per (session, dir) and
    * materialized to a temp parquet table — x31/x47/x72 all score
    * consumers of the SAME deterministic training (the integer-unit
    * contract makes the stored frame bit-identical to an inline run, so
    * hashes are unchanged), and x71 scores the training's at-rest form
    * itself. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  def sharedCentroids(spark: SparkSession, dir: String): DataFrame = {
    val path = centroidCache.computeIfAbsent(
      (spark.sparkContext.applicationId, dir), _ => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_cents")
        // shared for the JVM's lifetime (that's the point of the cache),
        // so cleanup is a shutdown hook — without it every battery run
        // leaks one parquet tree per (app, dir) key to /tmp forever
        graft.util.Fs.deleteOnExit(tmp.toFile)
        val out = tmp.toString + "/centroids.parquet"
        Similarity.kmeansCentroids(embs(spark, dir))
          .write.mode("overwrite").parquet(out)
        out
      })
    spark.read.parquet(path)
  }

  def x31IvfAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKWith(embs(spark, dir), sharedCentroids(spark, dir), 5)
      .orderBy(col("p_id"), col("rn"))

  /** X71 — the PERSISTED-index ANN path, scored: build the IVF index at
    * rest ([[graft.operators.Similarity.buildIvfIndex]] — centroids +
    * cell-PARTITIONED assignments), then answer x31's probes by reading
    * the stored index with a partition-pruned scan
    * ([[graft.operators.Similarity.ivfTopKFromIndex]]). The oracle is
    * x31's SQL verbatim: the hash gate proves stored-index probing ≡ the
    * fresh in-query build (kmeans is deterministic by the integer-unit
    * contract, so the index IS the transient build, materialized). This
    * is the deployment shape — index built once, probed many times, scan
    * bounded by nprobe directories (pruning asserted in LayoutSpec). */
  def x71IvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x71_").toFile
    try {
      val idx = new java.io.File(tmp, "ivf").getAbsolutePath
      val e = embs(spark, dir)
      Similarity.buildIvfIndexWith(e, sharedCentroids(spark, dir), idx)
      val res = Similarity.ivfTopKFromIndex(spark, idx,
        e.filter(col("vec_id") < 10), 5)
      // k × probes rows: materialize so the temp index tree drops eagerly
      graft.util.Materialize.sorted(res, col("p_id"), col("rn"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Stored index ≡ fresh build: the gate x31 already passes. (lazy —
    * x31Sql is declared further down this object) */
  lazy val x71Sql: String = x31Sql

  /** X72 — the production ADC composition, scored: IVF cell pruning ×
    * int8-quantized candidate ranking × exact float re-rank
    * ([[graft.operators.Similarity.ivfTopKQuantized]]). The oracle is
    * x31's SQL — the hash gate proves the quantized two-stage path
    * returns EXACTLY the float IVF answer on this corpus (the re-rank
    * absorbs quantization noise at the default candidate factor; the
    * recall caveats and their tuning guidance live on the operator).
    * At 100 TB this is the deployed layout: the pruned scan streams
    * CODES (dim + 8 bytes/vector vs 8·dim float64), and only ~k·factor
    * rows per probe ever touch full-precision vectors. */
  def x72AdcAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKQuantizedWith(embs(spark, dir),
        sharedCentroids(spark, dir), 5)
      .orderBy(col("p_id"), col("rn"))

  lazy val x72Sql: String = x31Sql

  /** The oracle replicates the k-means training exactly: integer-unit
    * centroid means (exact sums, two IEEE divides in a fixed order) make
    * the learned centroids bit-identical between Spark and DuckDB, so
    * assignments, probed cells, and the final top-k all hash-match. */
  // k-means oracle CTE builders, shared by x31 (IVF ANN) and x47 (semantic
  // dedup) — both replicate Similarity.kmeansCentroids bit-exactly in SQL.
  /** Assignment CTE: every vector of e → nearest centroid in `cent`. */
  private def assignBlock(cent: String, out: String, src: String = "e"): String =
    s"""${out}pr AS (SELECT e.vec_id, c.c_id, unnest(e.v) AS x, unnest(c.cv) AS y FROM $src e, $cent c),
       |${out}s AS (SELECT vec_id, c_id, $cosSumCols FROM ${out}pr GROUP BY 1, 2),
       |${out}c AS (SELECT vec_id, c_id, $cosRExpr AS cos_c FROM ${out}s),
       |$out AS (SELECT vec_id, c_id AS cell FROM (
       |  SELECT vec_id, c_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_id ASC) AS rn
       |  FROM ${out}c) WHERE rn = 1)""".stripMargin
  /** Centroid-update CTE: element-wise exact-unit mean per cell. */
  private def centBlock(asg: String, out: String, src: String = "e"): String =
    s"""${out}m AS (SELECT cell, i,
       |    CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1000000000.0 AS cx
       |  FROM (SELECT $asg.cell AS cell, unnest(e.v) AS x, unnest(range(1, len(e.v) + 1)) AS i
       |        FROM $asg JOIN $src e ON e.vec_id = $asg.vec_id)
       |  GROUP BY cell, i),
       |$out AS (SELECT cell AS c_id, list(cx ORDER BY i) AS cv FROM ${out}m GROUP BY cell)""".stripMargin
  /** The trained-assignment prefix (e → cent0 → … → asg2), ending with
    * final assignments in `asg2`. */
  private def kmeansCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < ${Similarity.IvfCentroids}),
       |${assignBlock("cent0", "asg0")},
       |${centBlock("asg0", "cent1")},
       |${assignBlock("cent1", "asg1")},
       |${centBlock("asg1", "cent2")},
       |${assignBlock("cent2", "asg2")}""".stripMargin

  val x31Sql: String = {
    s"""WITH $kmeansCtes,
       |p0 AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 10),
       |pcpr AS (SELECT p_id, c.c_id, unnest(pv) AS x, unnest(c.cv) AS y FROM p0, cent2 c),
       |pcs AS (SELECT p_id, c_id, $cosSumCols FROM pcpr GROUP BY 1, 2),
       |pcc AS (SELECT p_id, c_id, $cosRExpr AS cos_c FROM pcs),
       |pc AS (SELECT p_id, cell FROM (
       |  SELECT p_id, c_id AS cell,
       |    row_number() OVER (PARTITION BY p_id ORDER BY cos_c DESC, c_id ASC) AS rn
       |  FROM pcc) WHERE rn <= ${Similarity.IvfNprobe}),
       |cand AS (SELECT pc.p_id, pc.cell, a.vec_id AS n_id FROM pc
       |         JOIN asg2 a ON a.cell = pc.cell WHERE a.vec_id != pc.p_id),
       |pf AS (SELECT p_id, cell, n_id, unnest(ep.v) AS x, unnest(en.v) AS y
       |       FROM cand JOIN e ep ON ep.vec_id = p_id JOIN e en ON en.vec_id = n_id),
       |s2 AS (SELECT p_id, cell, n_id, $cosSumCols FROM pf GROUP BY 1, 2, 3),
       |c2 AS (SELECT p_id, cell, n_id, $cosRExpr AS cos_r FROM s2),
       |r AS (SELECT p_id, cell, n_id, cos_r,
       |        row_number() OVER (PARTITION BY p_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c2)
       |SELECT p_id, rn, n_id, cell, cos_r FROM r WHERE rn <= 5 ORDER BY p_id, rn""".stripMargin
  }

  // ---- X47: semantic dedup (SemDeDup: in-cell cosine ε-balls) ----------

  /** Embedding-space dedup: within each deterministic k-means cell, keep
    * the min-id representative of every cosine-≥-τ ball (see
    * [[graft.operators.Similarity.semanticDedup]]). The oracle replays the
    * identical k-means (x31's CTEs) then the in-cell lower-id-neighbor
    * rule, so cells, dup links, and keep decisions all hash-match. */
  def x47SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupWith(embs(spark, dir),
        sharedCentroids(spark, dir), CosineDupThreshold)
      .orderBy(col("vec_id"))

  val x47Sql: String =
    s"""WITH $kmeansCtes,
       |pr2 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |          unnest(ea.v) AS x, unnest(eb.v) AS y
       |        FROM asg2 a JOIN asg2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |        JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
       |s2 AS (SELECT a_id, b_id, $cosSumCols FROM pr2 GROUP BY 1, 2),
       |c2 AS (SELECT a_id, b_id, $cosRExpr AS cos_r FROM s2),
       |d AS (SELECT b_id, min(a_id) AS dup_of FROM c2
       |      WHERE cos_r >= $CosineDupThreshold GROUP BY b_id)
       |SELECT g.vec_id, g.cell, coalesce(d.dup_of, -1) AS dup_of,
       |       d.b_id IS NULL AS kept
       |FROM asg2 g LEFT JOIN d ON d.b_id = g.vec_id ORDER BY vec_id""".stripMargin

  // ---- X98: multi-probe SemDeDup (cross-cell recall) --------------------

  /** [[graft.operators.Similarity.semanticDedupMultiWith]] scored at the
    * weak-correlation threshold (0.40 — exactly the regime where x47's
    * single-cell search documents misses): each vector probes its top-2
    * cells, so a duplicate pair straddling a cell boundary is found when
    * ANY probe cell coincides. The oracle replays the identical k-means
    * (x31's CTEs), the top-2 multi-assignment, the distinct-pair verify,
    * and the min-lower-id rule — cells, dup links, and keeps hash-match.
    * Recall dominance over x47 is law-tested in SimilaritySpec. */
  def x98MultiprobeSemdedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupMultiWith(embs(spark, dir),
        sharedCentroids(spark, dir), CosineDupThreshold)
      .orderBy(col("vec_id"))

  val x98Sql: String =
    s"""WITH $kmeansCtes,
       |mpr AS (SELECT e.vec_id, c.c_id, unnest(e.v) AS x, unnest(c.cv) AS y
       |        FROM e, cent2 c),
       |ms AS (SELECT vec_id, c_id, $cosSumCols FROM mpr GROUP BY 1, 2),
       |mc AS (SELECT vec_id, c_id, $cosRExpr AS cos_c FROM ms),
       |ma AS (SELECT vec_id, c_id AS cell FROM (
       |  SELECT vec_id, c_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_id ASC) AS rn
       |  FROM mc) WHERE rn <= 2),
       |pr AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |       FROM ma a JOIN ma b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pf AS (SELECT a_id, b_id, unnest(ea.v) AS x, unnest(eb.v) AS y
       |       FROM pr JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id),
       |s2 AS (SELECT a_id, b_id, $cosSumCols FROM pf GROUP BY 1, 2),
       |c2 AS (SELECT a_id, b_id, $cosRExpr AS cos_r FROM s2),
       |d AS (SELECT b_id, min(a_id) AS dup_of FROM c2
       |      WHERE cos_r >= $CosineDupThreshold GROUP BY b_id)
       |SELECT g.vec_id, g.cell, coalesce(d.dup_of, -1) AS dup_of,
       |       d.b_id IS NULL AS kept
       |FROM asg2 g LEFT JOIN d ON d.b_id = g.vec_id ORDER BY vec_id""".stripMargin

  // ---- X35: dedup clusters (connected components over near-dup pairs) --

  /** The dedup ACTION: transitively-connected near-dup clusters (over the
    * exact jacc≥0.9 pairs), each doc labeled with its cluster's min id —
    * keep cluster_id == doc_id, drop the rest. Spark side is iterative
    * min-label propagation; the oracle computes the same components with a
    * recursive CTE (reachability closure, min label per node). */
  def x35DedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir, 1).orderBy(col("doc_id"))

  /** Mined cluster labels for the (doc_id % modulus == 0) subset: x35
    * (full corpus), x50/x69 (half), x63 (quarter) and x70 (full) score
    * post-processings of this frame. Each query mines its own labels:
    * nothing is cached across queries, so a timed row always pays for the
    * mining it scores. */
  def clusterLabels(spark: SparkSession, dir: String, modulus: Int): DataFrame = {
    val d =
      if (modulus <= 1) docs(spark, dir)
      else docs(spark, dir).filter(pmod(col("doc_id"), lit(modulus)) === 0)
    TextDedup.nearDupClusters(d, JaccThreshold)
  }

  /** Batch dedup-cluster oracle over an arbitrary document source (reused
    * by x37 with a restricted corpus). */
  /** The recursive-CTE body only (everything after WITH RECURSIVE, ending
    * with `reach`) — reusable by queries that post-process the labels
    * (x50's leak-free split). */
  def clustersCtesFor(src: String): String =
    s"""tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM $src),
       |vocab AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS bit FROM (SELECT DISTINCT tok FROM tok)),
       |mask AS (SELECT doc_id, sum(1::BIGINT << bit)::BIGINT AS m
       |         FROM tok JOIN vocab USING (tok) GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM mask a JOIN mask b ON a.doc_id < b.doc_id
       |  WHERE CAST(bit_count(a.m & b.m) AS DOUBLE) / CAST(bit_count(a.m | b.m) AS DOUBLE) >= $JaccThreshold),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst)""".stripMargin

  def clustersSqlFor(src: String): String =
    s"""WITH RECURSIVE
       |${clustersCtesFor(src)}
       |SELECT id AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  val x35Sql: String = clustersSqlFor("documents")

  // ---- X69: the dedup ACTION — keep-best per near-dup cluster ----------

  /** X69 — turn cluster labels into a keep/drop decision: per near-dup
    * cluster, keep the member with the highest x25 quality score (doc_id
    * asc tie-break) and report (cluster_id, keep_id, n_members,
    * n_dropped). x35 says WHICH docs co-refer; x69 says which one
    * SURVIVES — the step that actually shrinks the corpus.
    *
    * Scale shape: clusters (LSH mining + union-find contraction, the x35
    * machinery) + a pure quality projection + ONE `max_by(doc_id,
    * (score, -doc_id))` aggregate — commutative/associative, combines
    * map-side, never sorts a cluster's members (the window spelling the
    * oracle uses would). Scored on the half corpus (doc_id ≡ 0 mod 2)
    * like x44 — the battery already pays full-corpus mining in x21/x35;
    * determinism of the double score is exactly x25's law. */
  def x69ClusterKeep(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(pmod(col("doc_id"), lit(2)) === 0)
    val clusters = clusterLabels(spark, dir, 2)
    val quality = graft.operators.Curation.qualityScore(d)
      .select(col("doc_id"), col("score"))
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("keep_id"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dropped", col("n_members") - 1)
      .orderBy(col("cluster_id"))
  }

  val x69Sql: String = {
    val half = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    s"""WITH RECURSIVE
       |${clustersCtesFor(half)},
       |c AS (SELECT id AS doc_id, min(label) AS cluster_id
       |      FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |        0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |          + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |                   / len(string_split(text, ' '))) AS score
       |      FROM $half),
       |r AS (SELECT c.cluster_id, c.doc_id,
       |        row_number() OVER (PARTITION BY c.cluster_id
       |                           ORDER BY q.score DESC, c.doc_id ASC) AS rn,
       |        count(*) OVER (PARTITION BY c.cluster_id) AS nm
       |      FROM c JOIN q USING (doc_id))
       |SELECT cluster_id, doc_id AS keep_id, nm AS n_members,
       |  nm - 1 AS n_dropped
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  // ---- X70: per-source dedup-savings report ----------------------------

  /** X70 — the accounting a real 100 TB curation run publishes: per
    * SOURCE, how many documents the dedup action drops and how many
    * characters of storage/training compute that saves. Composes x69's
    * keep decision (max-quality member per cluster, doc_id-asc tie-break)
    * with the document metadata, over the FULL corpus — the frame that
    * tells a data owner "crawl B is 40% redundant with crawl A" before
    * anyone trains on it.
    *
    * Scale shape: the labels are x35's ([[clusterLabels]]; in production
    * a maintained table, x37's path), quality is a per-row
    * projection + map-side-combinable agg, the keep decision is one
    * `max_by` per cluster (never sorts members), and the report is one
    * (source)-keyed agg over doc-sized rows. The only shuffles key on
    * cluster_id (label-sized) and source (report-sized). */
  def x70DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val all = d.select(col("doc_id"), col("source"), col("n_chars"))
      .join(clusterLabels(spark, dir, 1), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val quality = graft.operators.Curation.qualityScore(d)
      .select(col("doc_id"), col("score"))
    val keeps = all.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("score"), (-col("doc_id")).as("nid"))).as("keep_id"))
    all.join(keeps, "cluster_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") =!= col("keep_id")).cast(LongType)).as("n_dropped"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(lit(0L))).cast(LongType).as("chars_saved"))
      .orderBy(col("source"))
  }

  val x70Sql: String =
    s"""WITH RECURSIVE
       |${clustersCtesFor("documents")},
       |c AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
       |alldocs AS (SELECT d.doc_id, d.source, d.n_chars,
       |              coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |            FROM documents d LEFT JOIN c USING (doc_id)),
       |q AS (SELECT doc_id,
       |        0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |          + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |                   / len(string_split(text, ' '))) AS score
       |      FROM documents),
       |r AS (SELECT a.cluster_id, a.doc_id,
       |        row_number() OVER (PARTITION BY a.cluster_id
       |                           ORDER BY q.score DESC, a.doc_id ASC) AS rn
       |      FROM alldocs a JOIN q USING (doc_id)),
       |k AS (SELECT cluster_id, doc_id AS keep_id FROM r WHERE rn = 1)
       |SELECT a.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN a.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN a.doc_id <> k.keep_id THEN a.n_chars ELSE 0 END) AS BIGINT) AS chars_saved
       |FROM alldocs a JOIN k USING (cluster_id)
       |GROUP BY a.source ORDER BY a.source""".stripMargin

  // ---- X37: incremental dedup clusters (fold law, hash-gated) ----------

  /** The production append scenario, scored end-to-end: an existing store
    * is bootstrapped with the BATCH clustering, then a ~10% increment
    * arrives and labels are maintained incrementally — probe-restricted
    * LSH mining for the new pairs, star-edge label propagation for the
    * merge. The result must equal clustering the union from scratch, so
    * the ORACLE IS THE BATCH ANSWER over the same corpus: the hash gate
    * proves the incremental path reconstructs it. Scored over a quarter
    * of the documents (doc_id ≡ 0 mod 4) — the battery already pays the
    * full-corpus mining cost in x21/x35, and the fold LAW is additionally
    * asserted at full scale in TextDedupSpec. */
  def x37IncrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
    val batch = d.filter(pmod(col("doc_id"), lit(40)) === 36) // 1/10 of the quarter
    val existing = d.filter(pmod(col("doc_id"), lit(40)) =!= 36)
    val base = TextDedup.nearDupClusters(existing, JaccThreshold)
      .localCheckpoint(true) // consumed as both star edges and singleton heads
    TextDedup.nearDupClustersIncremental(base, existing, batch, JaccThreshold)
      .orderBy(col("doc_id"))
  }

  val x37Sql: String = clustersSqlFor("(SELECT * FROM documents WHERE doc_id % 4 = 0)")

  // ---- X93/X94: the unbounded incremental family at vocab > 63 ----------

  /** The vocab > 63 scoring corpus: the quarter corpus with every token
    * suffixed by the doc's lang — ≈150 distinct tokens, past tokenMasks'
    * 63-bit bound, so the MASK family (x21/x37's path) REFUSES here and
    * the unbounded family is the only one that runs: exactly the
    * production regime these gates exist to score. Within-lang Jaccard
    * values are untouched (the suffix is a bijection on tokens when langs
    * are equal); cross-lang pairs drop to Jaccard 0. The oracle derives
    * the same corpus in DuckDB and computes exact token-set Jaccard via
    * list_intersect — no bitmask anywhere, so it is itself vocab-unbounded. */
  private def wideQuarter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("lang"))), " ").as("text"))

  private val wideQuarterCte: String =
    """d AS (SELECT doc_id,
      |  array_to_string(list_transform(string_split(text, ' '), t -> t || '_' || lang), ' ') AS text
      |  FROM documents WHERE doc_id % 4 = 0)""".stripMargin

  /** Exact token-set Jaccard pairs over the derived corpus (vocab-unbounded
    * oracle: list_intersect, never a bitmask). */
  private def widePairsSql(threshold: Double): String =
    s"""WITH $wideQuarterCte,
       |tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS l FROM d),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |        CAST(len(list_intersect(a.l, b.l)) AS DOUBLE) /
       |        (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) AS jacc
       |      FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, jacc FROM p WHERE jacc >= $threshold
       |ORDER BY a_id, b_id""".stripMargin

  /** X93 — INCREMENTAL near-dup mining AT REAL VOCABULARY, scored: the
    * production append scenario the mask-path x37/x92 cannot run (their
    * guard fires past 63 tokens). An existing store is bootstrapped with
    * the batch unbounded miner, a ~10% increment arrives, and
    * [[TextDedup.minhashNearDupsIncrementalUnbounded]] mines only the
    * new-touching pairs — probe-side-restricted band join (work ∝ the
    * batch's collisions), sha256 set identity (no vocabulary bound
    * anywhere). The output is bootstrap ∪ increment, so the ORACLE IS THE
    * BATCH ANSWER over the union (the arrival-order fold law, scored):
    * the hash gate proves the incremental path reconstructs it exactly. */
  def x93IncrementalUnbounded(spark: SparkSession, dir: String): DataFrame = {
    val d = wideQuarter(spark, dir).localCheckpoint(true)
    val batch = d.filter(pmod(col("doc_id"), lit(40)) === 36) // 1/10 of the quarter
    val existing = d.filter(pmod(col("doc_id"), lit(40)) =!= 36)
    val bootstrap = TextDedup.minhashNearDupsUnbounded(existing, JaccThreshold)
    val increment = TextDedup.minhashNearDupsIncrementalUnbounded(existing, batch, JaccThreshold)
    bootstrap.unionByName(increment).orderBy(col("a_id"), col("b_id"))
  }

  val x93Sql: String = widePairsSql(JaccThreshold)

  /** Vocab-unbounded batch dedup-cluster oracle over the derived corpus:
    * pairs via list_intersect (no bitmask), components via the recursive
    * reach CTE — [[clustersSqlFor]]'s shape without its 63-token bound. */
  private def wideClustersSql: String =
    s"""WITH RECURSIVE
       |$wideQuarterCte,
       |tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS l FROM d),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.l, b.l)) AS DOUBLE) /
       |        (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) >= $JaccThreshold),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** X94 — INCREMENTAL dedup-cluster maintenance AT REAL VOCABULARY,
    * scored: x37's append scenario on the unbounded family. Labels are
    * bootstrapped with [[TextDedup.nearDupClustersUnbounded]], the
    * increment folds in through
    * [[TextDedup.nearDupClustersIncrementalUnbounded]] — probe-mined new
    * pairs plus star-edge label propagation, so the contraction input is
    * O(labeled docs + new pairs), never the historical pair set. The
    * oracle is the batch clustering of the union: the hash gate proves
    * incremental maintenance reconstructs it at a vocabulary where the
    * mask path refuses. */
  def x94IncrementalClustersUnbounded(spark: SparkSession, dir: String): DataFrame = {
    val d = wideQuarter(spark, dir).localCheckpoint(true)
    val batch = d.filter(pmod(col("doc_id"), lit(40)) === 36)
    val existing = d.filter(pmod(col("doc_id"), lit(40)) =!= 36)
    val base = TextDedup.nearDupClustersUnbounded(existing, JaccThreshold)
      .localCheckpoint(true) // consumed as both star edges and singleton heads
    TextDedup.nearDupClustersIncrementalUnbounded(base, existing, batch, JaccThreshold)
      .orderBy(col("doc_id"))
  }

  val x94Sql: String = wideClustersSql

  /** X95 — near-dup mining FROM THE PERSISTED LSH INDEX, scored: the
    * stored-form service x93 promises. The existing corpus's
    * members/reps/band-buckets are built AT REST
    * ([[graft.operators.LshIndex.build]]), the increment folds in through
    * the leased idempotent [[graft.operators.LshIndex.append]], and the
    * VERIFIED probe ([[graft.operators.LshIndex.probeVerified]] — the
    * checksum-fingerprint freshness gate; staleness laws in LshIndexSpec)
    * mines the batch's new-touching pairs reading only collided band
    * buckets (directory-pruned; LayoutSpec-style law in LshIndexSpec).
    * Per-batch signature work is the batch's reps only — the corpus's
    * signatures are never recomputed, the scaling claim that makes a
    * CONTINUOUS dedup service viable at 100 TB. The oracle computes the
    * exact new-touching Jaccard pairs of the derived vocab>63 corpus in
    * DuckDB, so the hash gate proves stored-index mining ≡ fresh mining
    * ≡ ground truth. */
  def x95IndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x95_").toFile
    try {
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      val d = wideQuarter(spark, dir).localCheckpoint(true)
      val batch = d.filter(pmod(col("doc_id"), lit(40)) === 36)
      val existing = d.filter(pmod(col("doc_id"), lit(40)) =!= 36)
      graft.operators.LshIndex.build(existing, idx)
      graft.operators.LshIndex.append(batch, idx)
      val res = graft.operators.LshIndex.probeVerified(spark, idx, d, batch, JaccThreshold)
      // pair-set-sized: materialize so the temp index tree can drop
      graft.util.Materialize.sorted(res, col("a_id"), col("b_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** The new-touching pairs of the derived corpus (batch = doc_id ≡ 36
    * mod 40), exactly. */
  val x95Sql: String =
    s"""WITH $wideQuarterCte,
       |tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS l FROM d),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |        CAST(len(list_intersect(a.l, b.l)) AS DOUBLE) /
       |        (len(a.l) + len(b.l) - len(list_intersect(a.l, b.l))) AS jacc
       |      FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
       |SELECT a_id, b_id, jacc FROM p
       |WHERE jacc >= $JaccThreshold AND (a_id % 40 = 36 OR b_id % 40 = 36)
       |ORDER BY a_id, b_id""".stripMargin

  /** X96 — the streamed near-dup service AT REAL VOCABULARY, scored: x92's
    * gate shape past the mask family's 63-token bound. The derived
    * vocab>63 corpus lands as TWO JSON files drained one per micro-batch
    * (maxFilesPerTrigger=1), and
    * [[graft.streaming.EventStreams.mineNearDupsStreamIndexed]] folds each
    * batch into the persisted LSH index (batch 1 bootstraps; batch 2
    * appends under the checkpoint-owned lease) and probes it for
    * new-touching pairs — the corpus's signatures are computed once, at
    * the batch that introduced each distinct set, never recomputed. From
    * an empty index the arrival-order fold ≡ the one-shot batch miner
    * (StreamingIngestSpec law), so the oracle is x93's exact full-pair
    * set over the same derived corpus. */
  def x96StreamIndexed(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x96_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      val pairs = new java.io.File(tmp, "pairs").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val d = wideQuarter(spark, dir)
      // two arrival batches (any slicing folds to the batch answer — the
      // law; this split just makes the gate exercise bootstrap + append)
      d.filter(pmod(col("doc_id"), lit(8)) === 0)
        .coalesce(1).write.json(landing)
      d.filter(pmod(col("doc_id"), lit(8)) =!= 0)
        .coalesce(1).write.mode("append").json(landing)
      graft.streaming.EventStreams.mineNearDupsStreamIndexed(
        spark, landing, idx, pairs, ckpt, JaccThreshold)
      val res = spark.read.parquet(pairs)
        .select(col("a_id"), col("b_id"), col("jacc"))
      // pair-set-sized: materialize so the temp index/checkpoint drop
      graft.util.Materialize.sorted(res, col("a_id"), col("b_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Streamed-indexed miner from empty ≡ batch miner: x93's oracle. */
  val x96Sql: String = x93Sql

  // ---- X99: incremental IVF index maintenance, scored end-to-end --------

  /** The ANN production lifecycle in one gate: build the persisted IVF
    * index over yesterday's corpus (even vec_ids — centroids train on
    * exactly that half), [[graft.operators.Similarity.appendToIvfIndex]]
    * today's batch (odd ids, assigned against the STORED centroids — no
    * retraining, the stated IVF drift trade), replay the same batch (the
    * keyed DedupAppend makes redelivery a no-op), then answer probes from
    * the stored index through the freshness-verified path — a stale or
    * tampered index refuses instead of under-answering. The oracle
    * replays k-means over the even half only, assigns the FULL corpus
    * against those centroids, and probes identically. */
  def x99IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x99_").toFile
    try {
      val e = embs(spark, dir)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) =!= 0)
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      Similarity.buildIvfIndexWith(even, Similarity.kmeansCentroids(even), idx)
      Similarity.appendToIvfIndex(odd, idx)
      Similarity.appendToIvfIndex(odd, idx) // replayed delivery: no-op
      val res = Similarity.ivfTopKFromIndexVerified(spark, idx, e,
        e.filter(col("vec_id") < 10), 5)
      graft.util.Materialize.sorted(res, col("p_id"), col("rn"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  lazy val x99Sql: String = {
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |eh AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM eh ORDER BY vec_id
       |          LIMIT ${Similarity.IvfCentroids}),
       |${assignBlock("cent0", "asg0", "eh")},
       |${centBlock("asg0", "cent1", "eh")},
       |${assignBlock("cent1", "asg1", "eh")},
       |${centBlock("asg1", "cent2", "eh")},
       |${assignBlock("cent2", "asgA", "e")},
       |p0 AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 10),
       |pcpr AS (SELECT p_id, c.c_id, unnest(pv) AS x, unnest(c.cv) AS y FROM p0, cent2 c),
       |pcs AS (SELECT p_id, c_id, $cosSumCols FROM pcpr GROUP BY 1, 2),
       |pcc AS (SELECT p_id, c_id, $cosRExpr AS cos_c FROM pcs),
       |pc AS (SELECT p_id, cell FROM (
       |  SELECT p_id, c_id AS cell,
       |    row_number() OVER (PARTITION BY p_id ORDER BY cos_c DESC, c_id ASC) AS rn
       |  FROM pcc) WHERE rn <= ${Similarity.IvfNprobe}),
       |cand AS (SELECT pc.p_id, pc.cell, a.vec_id AS n_id FROM pc
       |         JOIN asgA a ON a.cell = pc.cell WHERE a.vec_id != pc.p_id),
       |pf AS (SELECT p_id, cell, n_id, unnest(ep.v) AS x, unnest(en.v) AS y
       |       FROM cand JOIN e ep ON ep.vec_id = p_id JOIN e en ON en.vec_id = n_id),
       |s2 AS (SELECT p_id, cell, n_id, $cosSumCols FROM pf GROUP BY 1, 2, 3),
       |c2 AS (SELECT p_id, cell, n_id, $cosRExpr AS cos_r FROM s2),
       |r AS (SELECT p_id, cell, n_id, cos_r,
       |        row_number() OVER (PARTITION BY p_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c2)
       |SELECT p_id, rn, n_id, cell, cos_r FROM r WHERE rn <= 5 ORDER BY p_id, rn""".stripMargin
  }

  // ---- X100: streamed ANN-index ingest ≡ the batch maintenance ----------

  /** [[graft.streaming.EventStreams.maintainIvfIndexStream]] scored: the
    * corpus lands as two parquet batches (evens bootstrap the index —
    * training the centroids — odds fold in against the stored centroids),
    * the checkpointed AvailableNow stream maintains the index, and the
    * stored index answers the verified probe. Folding the stream
    * reproduces x99's batch maintenance exactly, so x99's oracle is the
    * oracle. Per-trigger work ∝ the landed file; the probe reads nprobe
    * cell directories — the continuous-ANN-service twin of x96. */
  def x100StreamAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x100_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val e = embs(spark, dir)
      val slim = e.select(col("vec_id"), col("embedding"))
      // each landed batch drained by its own AvailableNow run (the
      // checkpoint resumes past already-folded files), so arrival order
      // is explicit — never an artifact of file-listing order
      slim.filter(pmod(col("vec_id"), lit(2)) === 0)
        .coalesce(1).write.parquet(landing)
      graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
      slim.filter(pmod(col("vec_id"), lit(2)) =!= 0)
        .coalesce(1).write.mode("append").parquet(landing)
      graft.streaming.EventStreams.maintainIvfIndexStream(spark, landing, idx, ckpt)
      val res = Similarity.ivfTopKFromIndexVerified(spark, idx, e,
        e.filter(col("vec_id") < 10), 5)
      graft.util.Materialize.sorted(res, col("p_id"), col("rn"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Streamed index-fold ≡ batch build+append: x99's oracle. */
  lazy val x100Sql: String = x99Sql

  // ---- X101: IVF assignment-drift audit ---------------------------------

  /** [[graft.operators.Similarity.assignmentDrift]] scored: the index is
    * built over the even half (centroids train on it), and the odd half
    * plays the incoming batch — per cell, the mean assigned cosine of
    * stored members vs the batch in exact 1e-6 integer units, with
    * `drift_u` the retrain alarm. This turns appendToIvfIndex's "rebuild
    * when assignment quality decays" contract from prose into a
    * measurable, oracle-checked signal. The oracle replays the even-half
    * k-means, assigns both halves against the stored centroids, and
    * folds the same exact-unit means. */
  def x101IvfDrift(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x101_").toFile
    try {
      val e = embs(spark, dir)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) =!= 0)
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      Similarity.buildIvfIndexWith(even, Similarity.kmeansCentroids(even), idx)
      val res = Similarity.assignmentDrift(odd, idx)
      graft.util.Materialize.sorted(res, col("cell"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  lazy val x101Sql: String = {
    val uExpr = "CAST(floor((CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * " +
      "CAST(nb AS DOUBLE))) * 1000000.0) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |eh AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |eo AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM eh ORDER BY vec_id
       |          LIMIT ${Similarity.IvfCentroids}),
       |${assignBlock("cent0", "asg0", "eh")},
       |${centBlock("asg0", "cent1", "eh")},
       |${assignBlock("cent1", "asg1", "eh")},
       |${centBlock("asg1", "cent2", "eh")},
       |${assignBlock("cent2", "asgE", "eh")},
       |${assignBlock("cent2", "asgN", "eo")},
       |su0 AS (SELECT a.cell, a.vec_id, unnest(e2.v) AS x, unnest(c.cv) AS y
       |        FROM asgE a JOIN e e2 ON e2.vec_id = a.vec_id
       |        JOIN cent2 c ON c.c_id = a.cell),
       |su1 AS (SELECT cell, vec_id, $cosSumCols FROM su0 GROUP BY 1, 2),
       |su2 AS (SELECT cell, $uExpr AS u FROM su1),
       |sagg AS (SELECT cell, count(*) AS n_stored,
       |    CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      AS stored_mean_u FROM su2 GROUP BY cell),
       |nu0 AS (SELECT a.cell, a.vec_id, unnest(e2.v) AS x, unnest(c.cv) AS y
       |        FROM asgN a JOIN e e2 ON e2.vec_id = a.vec_id
       |        JOIN cent2 c ON c.c_id = a.cell),
       |nu1 AS (SELECT cell, vec_id, $cosSumCols FROM nu0 GROUP BY 1, 2),
       |nu2 AS (SELECT cell, $uExpr AS u FROM nu1),
       |nagg AS (SELECT cell, count(*) AS n_new,
       |    CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      AS new_mean_u FROM nu2 GROUP BY cell)
       |SELECT coalesce(sagg.cell, nagg.cell) AS cell, n_stored, n_new,
       |  stored_mean_u, new_mean_u, stored_mean_u - new_mean_u AS drift_u
       |FROM sagg FULL JOIN nagg ON nagg.cell = sagg.cell ORDER BY cell""".stripMargin
  }

  /** X104 — LEASED IVF RETRAIN with an atomic generation flip, scored:
    * the index is built from HALF the corpus (evens), the other half
    * folds in, and [[graft.operators.Similarity.assignmentDrift]] raises
    * the alarm x101 measures; [[graft.operators.Similarity
    * .retrainIvfIndex]] then retrains from the full corpus and publishes
    * the new index as an immutable GENERATION with one fail-if-exists
    * marker — closing the alarm→rebuild loop that was previously manual.
    * The require gates pin the service contract: the verified probe is
    * exact BEFORE the retrain; DURING a simulated half-swap (a crashed
    * retrainer's marker-less generation dir sits in the index root —
    * probes resolve only committed markers, so they cannot see it: the
    * never-half-swapped law); and AFTER, where it must equal a fresh
    * full-corpus build row-for-row (kmeans determinism via the
    * integer-unit contract makes that an exact check). A replayed retrain
    * with the same token is a generation-level no-op (x99's idempotence
    * discipline), and the crashed retrainer's garbage is reclaimed under
    * the lease. The oracle replays the full-corpus train + probe in SQL.
    * At 100 TB the retrain cost is the rebuild the alarm was already
    * scheduling; the generation protocol adds one marker create and keeps
    * probes lock-free throughout. */
  def x104IvfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x104_").toFile
    try {
      val e = embs(spark, dir)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) =!= 0)
      val idx = new java.io.File(tmp, "idx").getAbsolutePath
      Similarity.buildIvfIndexWith(even, Similarity.kmeansCentroids(even), idx)
      Similarity.appendToIvfIndex(odd, idx)
      // the alarm signal the retrain acts on (x101 scores its exactness)
      require(Similarity.assignmentDrift(odd, idx).count() > 0,
        "x104: the drift audit must produce a signal")
      // half-swap law: a crashed retrainer's marker-less generation dir is
      // INVISIBLE — the verified probe stays exact while it sits there
      val root = new org.apache.hadoop.fs.Path(idx)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "gen-7/cells"))
      val before = Similarity.ivfTopKFromIndexVerified(spark, idx, e,
        e.filter(col("vec_id") < 10), 5)
      require(before.count() > 0, "x104: the pre-retrain probe must answer")
      // retrain from the full corpus: ONE marker create publishes gen 1
      require(Similarity.retrainIvfIndex(e, idx, token = "x104-1") == 1L,
        "x104: retrain must publish generation 1")
      require(Similarity.retrainIvfIndex(e, idx, token = "x104-1") == 1L,
        "x104: a replayed retrain with the same token must no-op")
      require(!fs.exists(new org.apache.hadoop.fs.Path(root, "gen-7")),
        "x104: the crashed retrainer's garbage must be reclaimed")
      // post-swap: verified probe ≡ a fresh full-corpus build, exactly
      val after = graft.util.Materialize.sorted(
        Similarity.ivfTopKFromIndexVerified(spark, idx, e,
          e.filter(col("vec_id") < 10), 5), col("p_id"), col("rn"))
      val fresh = graft.util.Materialize.sorted(
        Similarity.ivfTopKWith(e, Similarity.kmeansCentroids(e), 5,
          col("vec_id") < 10), col("p_id"), col("rn"))
      require(after.collect().toSeq == fresh.collect().toSeq,
        "x104: the post-retrain probe must equal the fresh full-corpus build")
      after
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** The full-corpus train + probe replayed in SQL (x99's shape with the
    * training corpus widened from the even half to everything). */
  lazy val x104Sql: String = {
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e ORDER BY vec_id
       |          LIMIT ${Similarity.IvfCentroids}),
       |${assignBlock("cent0", "asg0", "e")},
       |${centBlock("asg0", "cent1", "e")},
       |${assignBlock("cent1", "asg1", "e")},
       |${centBlock("asg1", "cent2", "e")},
       |${assignBlock("cent2", "asgA", "e")},
       |p0 AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 10),
       |pcpr AS (SELECT p_id, c.c_id, unnest(pv) AS x, unnest(c.cv) AS y FROM p0, cent2 c),
       |pcs AS (SELECT p_id, c_id, $cosSumCols FROM pcpr GROUP BY 1, 2),
       |pcc AS (SELECT p_id, c_id, $cosRExpr AS cos_c FROM pcs),
       |pc AS (SELECT p_id, cell FROM (
       |  SELECT p_id, c_id AS cell,
       |    row_number() OVER (PARTITION BY p_id ORDER BY cos_c DESC, c_id ASC) AS rn
       |  FROM pcc) WHERE rn <= ${Similarity.IvfNprobe}),
       |cand AS (SELECT pc.p_id, pc.cell, a.vec_id AS n_id FROM pc
       |         JOIN asgA a ON a.cell = pc.cell WHERE a.vec_id != pc.p_id),
       |pf AS (SELECT p_id, cell, n_id, unnest(ep.v) AS x, unnest(en.v) AS y
       |       FROM cand JOIN e ep ON ep.vec_id = p_id JOIN e en ON en.vec_id = n_id),
       |s2 AS (SELECT p_id, cell, n_id, $cosSumCols FROM pf GROUP BY 1, 2, 3),
       |c2 AS (SELECT p_id, cell, n_id, $cosRExpr AS cos_r FROM s2),
       |r AS (SELECT p_id, cell, n_id, cos_r,
       |        row_number() OVER (PARTITION BY p_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c2)
       |SELECT p_id, rn, n_id, cell, cos_r FROM r WHERE rn <= 5 ORDER BY p_id, rn""".stripMargin
  }

  // ---- X32: end-to-end curation pipeline -------------------------------

  /** The composed training-data curation query: exact-dedup survivors
    * (min-id per sha256) tagged lang='en' that pass quality gates (x25
    * score ≥ 0.5, ≥ 20 tokens). One declarative plan — the dedup group,
    * per-row feature expressions, and the gates fuse into two hash
    * aggregations; no intermediate materialization. The 100 TB form is
    * identical: every stage is a narrow map or a key-bounded shuffle. */
  def x32Curation(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast(LongType))
      .withColumn("n_distinct", size(TextFns.tokenSet(col("text"))).cast(LongType))
      .withColumn("ttr", col("n_distinct").cast(DoubleType) / col("n_tok"))
      .withColumn("score",
        lit(0.5) * least(col("n_tok").cast(DoubleType) / 100.0, lit(1.0)) + lit(0.5) * col("ttr"))
    val survivors = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    d.join(survivors.select(col("doc_id")), "doc_id")
      .filter(col("lang") === "en" && col("score") >= 0.5 && col("n_tok") >= 20)
      .select(col("doc_id"), col("n_tok"), col("score"))
      .orderBy(col("doc_id"))
  }

  val x32Sql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |      + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |               / len(string_split(text, ' '))) AS score
      |  FROM documents),
      |survivors AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text))
      |SELECT s.doc_id, CAST(s.n_tok AS BIGINT) AS n_tok, s.score
      |FROM scored s JOIN survivors USING (doc_id)
      |WHERE s.lang = 'en' AND s.score >= 0.5 AND s.n_tok >= 20
      |ORDER BY s.doc_id""".stripMargin

  // ---- X33: deterministic stratified sampling --------------------------

  /** Content-hash stratified sampling: per-language rates applied via an
    * md5-derived hash of doc_id mod 100 — fully deterministic and
    * engine/partitioning-independent, unlike rand(seed)-based sampleBy
    * (rand is evaluated per partition). The reproducible-sampling idiom
    * for training-data pipelines: the same doc always makes the same cut,
    * so incremental re-runs and replicas agree. */
  def x33StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextFns.h31(concat(lit("sample:"), col("doc_id").cast(StringType))) % 100
    docs(spark, dir)
      .withColumn("bucket", bucket)
      .filter(
        (col("lang") === "en" && col("bucket") < 10) ||
        (col("lang") =!= "en" && col("bucket") < 50))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_id"))
      .orderBy(col("lang"))
  }

  val x33Sql: String =
    s"""WITH b AS (
       |  SELECT lang, doc_id,
       |    ${TextFns.h31Sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents)
       |SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id
       |FROM b
       |WHERE (lang = 'en' AND bucket < 10) OR (lang != 'en' AND bucket < 50)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X34: repetition ratio (Gopher-style quality heuristic) ----------

  /** Per-doc repetition signal: share of the token stream taken by the
    * single most frequent token (high ⇒ boilerplate/spam). Two hash
    * aggregations — (doc, token) counts then per-doc max/sum — both
    * map-side combinable; the repetitive-doc filter is the standard
    * quality gate alongside x25's TTR. */
  def x34Repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("max_tok"), sum(col("n")).as("n_tok"))
      .select(col("doc_id"),
        col("max_tok").cast(LongType).as("max_tok"),
        col("n_tok").cast(LongType).as("n_tok"),
        (col("max_tok").cast(DoubleType) / col("n_tok")).as("rep_ratio"),
        (col("max_tok").cast(DoubleType) / col("n_tok") > 0.2).as("is_repetitive"))
      .orderBy(col("doc_id"))

  val x34Sql: String =
    """WITH tc AS (
      |  SELECT doc_id, tok, count(*) AS n
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok)
      |SELECT doc_id,
      |  CAST(max(n) AS BIGINT) AS max_tok,
      |  CAST(sum(n) AS BIGINT) AS n_tok,
      |  CAST(max(n) AS DOUBLE) / sum(n) AS rep_ratio,
      |  CAST(max(n) AS DOUBLE) / sum(n) > 0.2 AS is_repetitive
      |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X23: SRP-LSH approximate nearest neighbor -----------------------

  def x23AnnSrp(spark: SparkSession, dir: String): DataFrame =
    Similarity.srpNearestNeighbor(embs(spark, dir)).orderBy(col("vec_id"))

  val x23Sql: String = {
    val h = (0 until Similarity.NumPlanes).map(Similarity.hyperplaneSqlArray)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |f AS (SELECT vec_id, unnest(v) AS x, unnest(${h(0)}) AS h0, unnest(${h(1)}) AS h1,
       |             unnest(${h(2)}) AS h2, unnest(${h(3)}) AS h3 FROM e),
       |d AS (SELECT vec_id,
       |             CAST(sum(CAST(floor(x*h0 * 1e9) AS BIGINT)) AS BIGINT) AS d0,
       |             CAST(sum(CAST(floor(x*h1 * 1e9) AS BIGINT)) AS BIGINT) AS d1,
       |             CAST(sum(CAST(floor(x*h2 * 1e9) AS BIGINT)) AS BIGINT) AS d2,
       |             CAST(sum(CAST(floor(x*h3 * 1e9) AS BIGINT)) AS BIGINT) AS d3
       |      FROM f GROUP BY vec_id),
       |bk AS (SELECT vec_id,
       |         CAST(CASE WHEN d0 > 0 THEN 1 ELSE 0 END
       |            + CASE WHEN d1 > 0 THEN 2 ELSE 0 END
       |            + CASE WHEN d2 > 0 THEN 4 ELSE 0 END
       |            + CASE WHEN d3 > 0 THEN 8 ELSE 0 END AS BIGINT) AS bucket
       |       FROM d),
       |pair AS (SELECT a.vec_id AS vec_id, a.bucket, b.vec_id AS n_id
       |         FROM bk a JOIN bk b USING (bucket) WHERE a.vec_id != b.vec_id),
       |pf AS (SELECT pair.vec_id, pair.bucket, pair.n_id, unnest(ea.v) AS x, unnest(eb.v) AS y
       |       FROM pair JOIN e ea ON ea.vec_id = pair.vec_id JOIN e eb ON eb.vec_id = pair.n_id),
       |s AS (SELECT vec_id, bucket, n_id, $cosSumCols FROM pf GROUP BY 1, 2, 3),
       |c AS (SELECT vec_id, bucket, n_id, $cosRExpr AS cos_r FROM s),
       |r AS (SELECT vec_id, bucket, n_id, cos_r,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c)
       |SELECT vec_id, bucket, n_id, cos_r FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // ---- X24: language-ID heuristic (char n-gram features) ---------------

  def x24LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("alpha", length(regexp_replace(col("text"), "[^a-z]", "")).cast(LongType))
      .withColumn("vowels", length(regexp_replace(col("text"), "[^aeiou]", "")).cast(LongType))
      .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast(LongType))
      .withColumn("vr", col("vowels").cast(DoubleType) / col("alpha"))
      .withColumn("atl", col("alpha").cast(DoubleType) / col("n_tok"))
      .withColumn("pred_lang",
        when(col("vr") >= 0.42, "en")
          .when(col("vr") >= 0.38, "de")
          .when(col("atl") >= 4.5, "fr")
          .otherwise("zh"))
    d.groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val x24Sql: String =
    """WITH f AS (
      |  SELECT lang,
      |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha,
      |    length(regexp_replace(text, '[^aeiou]', '', 'g')) AS vowels,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |p AS (
      |  SELECT lang,
      |    CASE WHEN CAST(vowels AS DOUBLE) / alpha >= 0.42 THEN 'en'
      |         WHEN CAST(vowels AS DOUBLE) / alpha >= 0.38 THEN 'de'
      |         WHEN CAST(alpha AS DOUBLE) / n_tok >= 4.5 THEN 'fr'
      |         ELSE 'zh' END AS pred_lang
      |  FROM f)
      |SELECT lang, pred_lang, count(*) AS n FROM p
      |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin

  // ---- X25: quality scoring --------------------------------------------

  def x25QualityScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.qualityScore(docs(spark, dir)).orderBy(col("doc_id"))

  val x25Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tok,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
      |  0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |    + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) AS score
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- X26: token counting (whitespace + regex lexer) ------------------

  def x26TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast(LongType).as("re_tokens"),
        length(col("text")).cast(LongType).as("len_chars"),
        (length(col("text")) === col("n_chars")).as("meta_consistent"))
      .orderBy(col("doc_id"))

  val x26Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
      |  length(text) AS len_chars,
      |  length(text) = n_chars AS meta_consistent
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- X27: order-sensitive document fingerprint -----------------------

  def x27Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"), TextFns.fingerprintExpr("toks").as("fp"))
      .orderBy(col("doc_id"))

  val x27Sql: String =
    s"""SELECT doc_id,
       |  CAST(sum(i * ${TextFns.h31Sql("tok")}) % ${TextFns.P31} AS BIGINT) AS fp
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |             unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
       |      FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- X28: multimodal binary-column plumbing --------------------------

  /** Treats text as an opaque binary payload (stand-in for image/audio
    * bytes): byte length, content address (sha256), a "thumbnail" slice,
    * and a frame count — the typed-metadata pattern for multimodal columns.
    * The real decode path (stubbed, no media libs in-container) lives in
    * graft.multimodal.BinaryMedia. */
  def x28MultimodalBinary(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("payload", col("text").cast(BinaryType))
      .select(col("doc_id"),
        octet_length(col("payload")).cast(LongType).as("n_bytes"),
        sha2(col("payload"), 256).as("content_id"),
        lower(hex(substring(col("text"), 1, 8).cast(BinaryType))).as("thumb"),
        expr("(size(split(text, ' ')) + 7) div 8").cast(LongType).as("n_frames"))
      .orderBy(col("doc_id"))

  val x28Sql: String =
    """SELECT doc_id,
      |  octet_length(text::BLOB) AS n_bytes,
      |  sha256(text) AS content_id,
      |  lower(hex(substr(text, 1, 8)::BLOB)) AS thumb,
      |  (len(string_split(text, ' ')) + 7) // 8 AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- X102: perceptual-hash near-dup mining (multimodal dedup) ---------

  /** [[graft.multimodal.BinaryMedia.phashNearDups]] scored — image-dedup's
    * shape over the binary corpus (payload = text bytes, the multimodal
    * stand-in of x28/x65; with a real decoder only the strip expression
    * changes): rep-collapse of identical payloads, 63-bit dHash over the
    * 64-byte strip, 3×21-bit LSH bands, Hamming-verified collisions.
    * Sound-subset semantics (x36's banded discipline); the oracle replays
    * strip → signature → bands → verify byte-for-byte via VARCHAR ord
    * (the corpus is ASCII — asserted by the hash match itself). */
  val PhashTau = 8

  def x102PhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir)
      .withColumn("payload", col("text").cast(BinaryType))
    graft.multimodal.BinaryMedia.phashNearDups(media, "doc_id", "payload", PhashTau)
      .orderBy(col("a_id"), col("b_id"))
  }

  val x102Sql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           WHERE octet_length(text::BLOB) >= 64),
       |rep AS (SELECT min(doc_id) AS rep_id, text FROM d GROUP BY text),
       |bs AS (SELECT rep_id, list_transform(range(1, 65), i ->
       |         CASE WHEN len(text) >= i THEN ord(substr(text, i, 1))
       |              ELSE 0 END) AS b FROM rep),
       |sg AS (SELECT rep_id,
       |         CAST(sum(CASE WHEN b[i] > b[i + 1]
       |                       THEN (1::BIGINT << (63 - i)) ELSE 0 END) AS BIGINT) AS sig
       |       FROM bs, unnest(range(1, 64)) u(i) GROUP BY rep_id),
       |bd AS (SELECT rep_id, sig, j,
       |         (sig >> CAST(21 * j AS INTEGER)) & 2097151 AS band
       |       FROM sg, unnest(range(0, 3)) v(j)),
       |pr AS (SELECT DISTINCT a.rep_id AS a_id, a.sig AS a_sig,
       |         b.rep_id AS b_id, b.sig AS b_sig
       |       FROM bd a JOIN bd b ON a.j = b.j AND a.band = b.band
       |         AND a.rep_id < b.rep_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(a_sig, b_sig)) AS BIGINT) AS hamming
       |FROM pr WHERE bit_count(xor(a_sig, b_sig)) <= $PhashTau
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X61: asymmetric containment pairs -------------------------------

  /** Sub-document duplication: C(a→b) = |Sₐ∩S_b|/|Sₐ| ≥ 0.8 over word
    * 3-gram shingles, both directions — the measure that catches a short
    * doc embedded in a long one where symmetric Jaccard (x18/x29) reads
    * near zero. Same rep-collapse + inverted-index machinery as x29. */
  val ContainThreshold = 0.8

  def x61Containment(spark: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(docs(spark, dir), 3, ContainThreshold)
      .orderBy(col("a_id"), col("b_id"))

  val x61Sql: String =
    s"""WITH rep AS (SELECT text, min(doc_id) AS rep_id FROM documents GROUP BY text),
       |mem AS (SELECT d.doc_id, r.rep_id FROM documents d JOIN rep r ON d.text = r.text),
       |rd AS (SELECT rep_id AS doc_id, text FROM rep),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM rd),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
       |       FROM tk, unnest(range(1, len(ts) - 1)) AS u(i) WHERE len(ts) >= 3),
       |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
       |itr AS (SELECT a.doc_id AS ra, b.doc_id AS rb, count(*) AS c
       |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |d AS (SELECT ra, rb, c, sa.nsh AS na, sb.nsh AS nb
       |      FROM itr JOIN sz sa ON sa.doc_id = ra JOIN sz sb ON sb.doc_id = rb),
       |rp AS (SELECT ra, rb, CAST(c AS DOUBLE) / na AS cont FROM d
       |       WHERE CAST(c AS DOUBLE) / na >= $ContainThreshold
       |       UNION ALL
       |       SELECT rb AS ra, ra AS rb, CAST(c AS DOUBLE) / nb AS cont FROM d
       |       WHERE CAST(c AS DOUBLE) / nb >= $ContainThreshold),
       |crossp AS (SELECT m1.doc_id AS a_id, m2.doc_id AS b_id, cont
       |           FROM rp JOIN mem m1 ON m1.rep_id = ra JOIN mem m2 ON m2.rep_id = rb),
       |intra AS (SELECT m1.doc_id AS a_id, m2.doc_id AS b_id, CAST(1.0 AS DOUBLE) AS cont
       |          FROM mem m1 JOIN mem m2 ON m1.rep_id = m2.rep_id AND m1.doc_id <> m2.doc_id)
       |SELECT a_id, b_id, cont FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra)
       |ORDER BY a_id, b_id""".stripMargin

  // ---- X75: hard-negative mining (contrastive training pairs) ----------

  /** Top-5 wrong-label near neighbors per anchor (vec_id < 10) — the
    * contrastive-training negative miner; see
    * [[graft.operators.Similarity.hardNegatives]] for the scale shape
    * (anchor broadcast, corpus streams once, label filter in-join). */
  def x75HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.hardNegatives(e.filter(col("vec_id") < 10), e, 5)
      .orderBy(col("p_id"), col("rn"))
  }

  val x75Sql: String =
    s"""WITH e AS (SELECT vec_id, label::BIGINT AS lab, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS p_id, lab AS p_lab, v AS pv FROM e WHERE vec_id < 10),
       |pr AS (SELECT p_id, e.vec_id AS n_id, e.lab AS n_label,
       |         unnest(pv) AS x, unnest(e.v) AS y
       |       FROM p, e WHERE e.lab != p.p_lab),
       |s AS (SELECT p_id, n_id, n_label, $cosSumCols FROM pr GROUP BY 1, 2, 3),
       |c AS (SELECT p_id, n_id, n_label, $cosRExpr AS cos_r FROM s),
       |r AS (SELECT p_id, n_id, n_label, cos_r,
       |        row_number() OVER (PARTITION BY p_id ORDER BY cos_r DESC, n_id ASC) AS rn FROM c)
       |SELECT p_id, rn, n_id, n_label, cos_r FROM r WHERE rn <= 5 ORDER BY p_id, rn""".stripMargin

  // ---- X78: per-source topic profile (k-means cell composition) --------

  /** Corpus topic audit: every document's embedding lands in its nearest
    * shared k-means cell (the x31/x47/x71 training, paid once per
    * session) and the (source, cell) composition is the report a curation
    * run reads to spot topic collapse or source skew before training.
    * Assignment is a centroid broadcast + map-side max(struct) — no
    * corpus shuffle; the join to doc metadata is key-aligned
    * (doc_id = vec_id) and the final agg is (source, cell)-keyed,
    * cardinality #sources × #cells. */
  def x78TopicProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.assignCells(embs(spark, dir), sharedCentroids(spark, dir))
    docs(spark, dir).join(cells, col("doc_id") === col("vec_id"))
      .groupBy(col("source"), col("cell"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("cell"))
  }

  val x78Sql: String =
    s"""WITH $kmeansCtes
       |SELECT d.source, a.cell, count(*) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
       |FROM asg2 a JOIN documents d ON d.doc_id = a.vec_id
       |GROUP BY d.source, a.cell ORDER BY d.source, a.cell""".stripMargin

  // ---- X92: streaming near-dup mining gate, scored ------------------------

  /** X92 — the NEAR-DUP MINING GATE run as an actual ingest stream and
    * scored: documents land as JSON lines,
    * [[graft.streaming.EventStreams.mineNearDupsStream]] probes each
    * micro-batch's LSH bands against the maintained corpus
    * (`minhashNearDupsIncremental` — join work ∝ the batch's collisions,
    * history never re-mined) and folds verified pairs into a
    * DedupAppend-maintained pairs table. From an empty corpus the fold ≡
    * the one-shot batch miner (the TextDedupSpec arrival-order law;
    * multi-batch folding is asserted in StreamingIngestSpec), so the
    * oracle is the exact half-corpus Jaccard pair set x44 already passes
    * — half-corpus like x44, because the battery pays full-corpus LSH in
    * x21/x35 already and the streamed run re-mines per scoring pass. */
  def x92StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_x92_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val corpus = new java.io.File(tmp, "corpus").getAbsolutePath
      val pairs = new java.io.File(tmp, "pairs").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      docs(spark, dir).filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.mineNearDupsStream(
        spark, landing, corpus, pairs, ckpt, JaccThreshold)
      val res = spark.read.parquet(pairs)
        .select(col("a_id"), col("b_id"), col("jacc"))
      // pair-set-sized: materialize so the temp corpus/checkpoint drop
      graft.util.Materialize.sorted(res, col("a_id"), col("b_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Streamed miner from empty ≡ batch miner: x44's half-corpus oracle. */
  val x92Sql: String = x44Sql

  /** X103 — HEAVY HITTERS via a MERGEABLE Misra-Gries summary + exact
    * verification, scored: the fixed-k typed Aggregator
    * ([[graft.functions.Aggregators.MisraGries]]) partial-aggregates
    * map-side and merges across partitions — per-task state is k counters
    * regardless of corpus or vocabulary size — and its candidate set is
    * GUARANTEED to contain every token with true frequency above N/(k+1).
    * One exact counting pass restricted to the ≤k candidates then filters
    * to the φ=1/50 heavy hitters. The oracle computes the heavy hitters
    * by brute force over the full vocabulary; a single candidate the
    * sketch wrongly dropped would surface as a missing row (the isin
    * restriction would lose it), so the hash match IS the superset proof.
    * At 100 TB: the sketch pass moves k-sized summaries only; the verify
    * pass shuffles candidate tokens only — the full-vocabulary groupBy
    * that a naive spelling shuffles never happens. */
  def x103HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 128
    val toks = docs(spark, dir).select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.as[String]
      .select(new graft.functions.Aggregators.MisraGries(k).toColumn)
      .head()
    require(sketch.size <= k, s"x103: sketch must hold <= $k counters, got ${sketch.size}")
    val cand = sketch.keys.toSeq.sorted
    val total = toks.count()
    toks.filter(col("tok").isin(cand: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(50L) > lit(total))
      .orderBy(col("tok"))
  }

  /** Brute-force heavy hitters over the full vocabulary. */
  val x103Sql: String =
    """WITH tf AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT count(*) AS n FROM tf)
      |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |FROM tf, tot GROUP BY tok, n HAVING count(*) * 50 > n
      |ORDER BY tok""".stripMargin
}
