package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.MinHashBands
import graft.functions.TextFns._

/** Text deduplication family for LLM training-data pipelines:
  * exact (content hash), exact-Jaccard pair mining, MinHash+LSH and
  * SimHash+LSH near-dup candidate generation.
  *
  * Scale design (100 TB): the LSH paths are the production paths — they
  * band-bucket signatures so candidate generation is a shuffle on band keys
  * (linear in data + candidate pairs) instead of an all-pairs product. The
  * exact-Jaccard mining here doubles as the verifier for LSH candidates and
  * as the oracle-checkable ground truth at test scale.
  */
object TextDedup {

  /** Exact dedup on sha256(text): one survivor (min doc_id) per content
    * hash. groupBy on the hash → single shuffle, map-side combinable. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct-token bitmask over a dense global token dictionary.
    * Requires |vocab| <= 63, enforced by a plan-level raise_error on any
    * bit index > 62 (bit 63 would hit the sign bit and Spark's shiftleft
    * wraps shift counts mod 64, silently colliding masks) — the test
    * corpora have ~31 distinct tokens. At real scale the dictionary doesn't
    * fit a Long and the MinHash path below replaces this; the bitmask form
    * exists because it makes set-Jaccard exact, cheap (two popcounts), and
    * oracle-replicable. */
  def tokenMasks(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokenSet(col("text"))).as("tok"))
    // Dense bit numbering via a single-row sorted collect + posexplode: the
    // dictionary is tiny BY CONTRACT (guard below), so one reducer is the
    // right plan and avoids an unpartitioned-Window sort. The guard fails
    // the job rather than silently wrapping shift counts past bit 62.
    val vocab = tok.select(col("tok")).distinct()
      .agg(sort_array(collect_list(col("tok"))).as("toks"))
      .select(posexplode(when(size(col("toks")) <= 63, col("toks"))
        .otherwise(raise_error(concat(
          lit("tokenMasks requires |vocab| <= 63 distinct tokens; saw "),
          size(col("toks")).cast(StringType))))).as(Seq("bit", "tok")))
      .select(col("tok"), col("bit").cast(LongType))
    // tiny dictionary → broadcast join; the explode/join never shuffles docs
    tok.join(broadcast(vocab), "tok")
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(bit as int))")).as("mask"),
           count(lit(1)).as("n_tokens"))
  }

  /** Exact set-Jaccard of two token bitmasks (two popcounts + a divide). */
  private def maskJaccard(aMask: org.apache.spark.sql.Column,
                          bMask: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(aMask.bitwiseAND(bMask)).cast(DoubleType) /
      bit_count(aMask.bitwiseOR(bMask)).cast(DoubleType)

  /** All pairs (a<b) with set-Jaccard >= threshold, exact via bitmasks. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val m = tokenMasks(docs)
    val a = m.select(col("doc_id").as("a_id"), col("mask").as("a_mask"))
    val b = m.select(col("doc_id").as("b_id"), col("mask").as("b_mask"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("jacc", maskJaccard(col("a_mask"), col("b_mask")))
      .filter(col("jacc") >= threshold)
      .select(col("a_id"), col("b_id"), col("jacc"))
  }

  // ---- word n-gram (shingle) Jaccard ----------------------------------

  /** Distinct word n-gram (shingle) set per doc: one row per (doc_id,
    * shingle). explode positions then element_at (codegen) — docs with
    * fewer than n tokens contribute no shingles. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    // fallback registration so the operator works in sessions built
    // without the GraftExtensions config (the CosineUnits contract)
    graft.functions.TextFns.explodeShingles(
        docs.select(col("doc_id"), tokens(col("text")).as("ts")), "ts", n,
        gramCol = "shingle")
      .select(col("doc_id"), col("shingle"))
      .distinct()
  }

  /** All pairs (a<b) with n-gram-set Jaccard >= threshold — EXACT, via an
    * inverted-index intersection count: join docs on shared shingles,
    * count matches per pair, |A∩B| / (|A|+|B|-|A∩B|). Order-sensitive
    * near-duplication (unlike the token-set form): reordering tokens
    * changes the shingle set.
    *
    * Scale shape: the shingle join is a shuffle on shingle — cost
    * Σ_s freq(s)², so hot shingles are the skew risk; identical texts are
    * collapsed first (they alias whole clusters into every shingle), and
    * `maxShingleDf` (the stop-shingle frequency cap) bounds the worst key:
    * shingles with document frequency above the cap are dropped from
    * CANDIDATE generation only — candidates are then re-verified with an
    * exact intersection count over the FULL posting lists, so reported
    * jacc values never change. A true pair is missed only if EVERY shared
    * shingle is capped: at jacc ≥ t the pair shares ≥ t/(1+t) of its
    * shingle union (≥ 44% at t=0.8), so a cap above the corpus's
    * boilerplate band cannot lose it — asserted capped ≡ uncapped in
    * TextDedupSpec. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxShingleDf: Option[Long] = None): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("text"), sha2(col("text"), 256).as("h"))
    val reps = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep_id"))
    // read by both expansion sides + intra: materialize once (same
    // reasoning as the MinHash members in [[identities]] / the shingle
    // table below).
    // reps is O(distinct content) — never hint-broadcast; AQE converts the
    // shuffle join to a broadcast at runtime when the frame is actually
    // small, and degrades to a plain shuffle join at corpus scale.
    val members = hashed.select(col("doc_id"), col("h"))
      .join(reps, "h").select(col("doc_id"), col("rep_id"))
      .localCheckpoint(true)
    val repDocs = hashed.join(reps, hashed("doc_id") === reps("rep_id"))
      .select(col("doc_id"), col("text"))
    // the distinct shingle table feeds three consumers (sizes + both join
    // sides): materialize once, same reasoning as [[identities]]
    val sh = shingles(repDocs, n).localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = maxShingleDf match {
      case None =>
        sh.select(col("shingle"), col("doc_id").as("ra"))
          .join(sh.select(col("shingle"), col("doc_id").as("rb")), "shingle")
          .filter(col("ra") < col("rb"))
          .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("c"))
      case Some(cap) =>
        // stop-shingle path: the hot-shingle set is at most |postings|/cap
        // rows — usually the tiny zipf head, but not BOUNDED, so the
        // anti-join carries no broadcast hint either (AQE broadcasts it at
        // runtime when it is in fact small); exact re-verify over full
        // posting lists restores true intersections
        val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("shingle"))
        val cold = sh.join(hot, Seq("shingle"), "left_anti")
        val cand = cold.select(col("shingle"), col("doc_id").as("ra"))
          .join(cold.select(col("shingle"), col("doc_id").as("rb")), "shingle")
          .filter(col("ra") < col("rb"))
          .select(col("ra"), col("rb")).distinct()
        cand.join(sh.select(col("doc_id").as("ra"), col("shingle")), "ra")
          .join(sh.select(col("doc_id").as("rb"), col("shingle")), Seq("rb", "shingle"))
          .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("c"))
    }
    // sizes is O(distinct docs) and repPairs is O(near-dup pairs): both are
    // unbounded at corpus scale (a 100 TB crawl has 1e8–1e9 true near-dup
    // pairs, past any executor broadcast limit), so none of these joins is
    // hint-broadcast — AQE upgrades them at runtime when genuinely small
    val repPairs = inter
      .join(sizes.select(col("doc_id").as("ra"), col("nsh").as("na")), "ra")
      .join(sizes.select(col("doc_id").as("rb"), col("nsh").as("nb")), "rb")
      .withColumn("jacc", col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jacc") >= threshold)
      .select(col("ra").as("a_rep_id"), col("rb").as("b_rep_id"), col("jacc"))
    // identical texts are Jaccard-1 by definition: the MinHash expander's
    // intra pairs
    expandPairs(members, "rep_id", repPairs, batch = None)
  }

  // ---- asymmetric containment (sub-document duplication) ---------------

  /** Directed containment pairs: C(a→b) = |Sₐ ∩ S_b| / |Sₐ| over word
    * n-gram shingle sets — "most of doc A's shingles appear in doc B".
    * The asymmetric measure catches SUB-document duplication (a short doc
    * quoted/embedded inside a long one) that symmetric Jaccard
    * structurally cannot: a 20-shingle doc fully contained in a
    * 2000-shingle doc has Jaccard 0.01 but containment 1.0. Emits BOTH
    * directions (a_id, b_id, cont) with cont ≥ threshold, a_id ≠ b_id.
    *
    * Same scale scaffolding as [[ngramJaccardPairs]]: identical texts
    * collapse to a representative before the quadratic stage (the
    * intersection join runs on distinct content only), intersections are
    * computed once per unordered rep pair and projected into both
    * directions, and `maxShingleDf` offers the same stop-shingle
    * candidate cap (candidates from cold shingles, exact re-verify over
    * full posting lists — reported containments are exact; only pairs
    * sharing NOTHING but hot shingles are missed). */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxShingleDf: Option[Long] = None): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("text"), sha2(col("text"), 256).as("h"))
    val reps = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep_id"))
    // reps/sizes/repPairs are O(distinct docs) / O(near-dup pairs): no
    // broadcast hints anywhere on them (same discipline as
    // [[ngramJaccardPairs]]) — AQE upgrades at runtime when actually small
    val members = hashed.select(col("doc_id"), col("h"))
      .join(reps, "h").select(col("doc_id"), col("rep_id"))
      .localCheckpoint(true)
    val repDocs = hashed.join(reps, hashed("doc_id") === reps("rep_id"))
      .select(col("doc_id"), col("text"))
    val sh = shingles(repDocs, n).localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val interHalf = maxShingleDf match {
      case None =>
        sh.select(col("shingle"), col("doc_id").as("ra"))
          .join(sh.select(col("shingle"), col("doc_id").as("rb")), "shingle")
          .filter(col("ra") < col("rb"))
          .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("c"))
      case Some(cap) =>
        val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("shingle"))
        val cold = sh.join(hot, Seq("shingle"), "left_anti")
        val cand = cold.select(col("shingle"), col("doc_id").as("ra"))
          .join(cold.select(col("shingle"), col("doc_id").as("rb")), "shingle")
          .filter(col("ra") < col("rb"))
          .select(col("ra"), col("rb")).distinct()
        cand.join(sh.select(col("doc_id").as("ra"), col("shingle")), "ra")
          .join(sh.select(col("doc_id").as("rb"), col("shingle")), Seq("rb", "shingle"))
          .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("c"))
    }
    val both = interHalf
      .join(sizes.select(col("doc_id").as("ra"), col("nsh").as("na")), "ra")
      .join(sizes.select(col("doc_id").as("rb"), col("nsh").as("nb")), "rb")
    val repPairs = both
      .select(col("ra"), col("rb"), (col("c").cast(DoubleType) / col("na")).as("cont"))
      .unionByName(both.select(col("rb").as("ra"), col("ra").as("rb"),
        (col("c").cast(DoubleType) / col("nb")).as("cont")))
      .filter(col("cont") >= threshold)
    val cross = members.select(col("doc_id").as("a_id"), col("rep_id").as("ra"))
      .join(repPairs, "ra")
      .join(members.select(col("doc_id").as("b_id"), col("rep_id").as("rb")), "rb")
      .select(col("a_id"), col("b_id"), col("cont"))
    val intra = members.select(col("doc_id").as("a_id"), col("rep_id"))
      .join(members.select(col("doc_id").as("b_id"), col("rep_id")), "rep_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("cont"))
    cross.unionByName(intra) // identical texts contain each other fully
  }

  // ---- MinHash + banded LSH near-dup pipeline --------------------------

  /** Every MinHash near-dup entry point runs ONE pipeline, [[pipeline]],
    * over a matrix of set identity × call form:
    *
    * {{{
    *           | batch                     | incremental (newIds)                | stored index
    *   mask    | minhashNearDups           | minhashNearDupsIncremental          | —
    *           | nearDupClusters           | nearDupClustersIncremental          |
    *   setid   | minhashNearDupsUnbounded  | minhashNearDupsIncrementalUnbounded | LshIndex.probe
    *           | nearDupClustersUnbounded  | nearDupClustersIncrementalUnbounded |
    * }}}
    *
    * Set identity (the `key` column):
    *   - `mask`: the [[tokenMasks]] bitmask, so |vocab| <= 63. Each banded
    *     row carries its mask, so verification (two popcounts) runs INSIDE
    *     the band self-join's stage and sub-threshold candidates (the bulk:
    *     the 32×8 S-curve admits pairs from ~0.65 up) die before any
    *     shuffle — measured 3.4× faster than verify-after-dedup at sf0.1.
    *     The faster form wherever it applies.
    *   - `setid`: sha256 of the sorted distinct-token list ([[setMembers]]),
    *     no vocabulary bound (every real corpus). Token arrays cannot ride
    *     the ×NumBands explode, so band rows carry only (key, rep, set
    *     size): the band join applies the sound size-ratio prefilter, and
    *     `array_intersect` verifies each DISTINCT candidate pair once.
    *     The oracle cross-checks both identities equal where both apply.
    *
    * Call form:
    *   - batch: every pair of `docs`;
    *   - incremental: only pairs touching a NEW doc, mined over existing ∪
    *     new. The band self-join degenerates to a PROBE — only bands of
    *     groups holding a new doc sit on the left, so join work ∝ the
    *     batch's collisions — and pairs are emitted exactly once. Folding a
    *     corpus through it in arrival order yields the batch answer, each
    *     pair surfacing when its later member arrives (law in
    *     TextDedupSpec). Masks are recomputed over the union vocabulary per
    *     call; Jaccard is set-based, so vocabulary growth changes nothing;
    *   - stored index ([[LshIndex]], setid only): the incremental form
    *     whose corpus side (members, rep token arrays, band keys) is read
    *     from the persisted index instead of re-derived from docs.
    *
    * Stages, each defined once:
    *   1. [[identities]]: members keyed by identity, one group (rep = min
    *      doc_id) per distinct set. Heavily duplicated corpora put
    *      thousands of identical sets in one LSH bucket, making the band
    *      self-join quadratic in cluster size (observed: 450 s at sf0.1),
    *      so everything after runs over reps — LSH cost is linear in
    *      DISTINCT content;
    *   2. verified identity pairs: [[minhashVerifiedRepPairs]] (mask) or
    *      [[unboundedRepPairs]] → [[verifyBandPairs]] (setid; the stored
    *      index calls the latter directly);
    *   3. [[expandPairs]]: identity pairs → doc pairs, plus the jacc-1
    *      pairs inside each group;
    *   4. [[labelClusters]]: components over the REP graph, expanded to
    *      members; [[foldLabels]] is the incremental fold.
    *
    * Broadcast discipline: groups, members and verified pairs are
    * O(distinct corpus) or O(near-dup pairs) — a 100 TB crawl has 1e8–1e9
    * true near-dup pairs — so their joins carry no hint (AQE broadcasts
    * at runtime when they measure small). `newIds` is batch-bounded by the
    * incremental contract (one ingest batch, never corpus-sized), so its
    * broadcasts are the only hinted ones. */

  /** Band rows, one per (row of `rows`, band): the `carry` columns and a
    * 64-bit `key` hashing (band index, band slice of the MinHash
    * signature of the `toks` distinct-token array). [[MinHashBands]]
    * computes each row's keys in one row-local kernel inside the
    * generated stage, so no exchange or aggregate sits between `rows` and
    * their bands (PlanSpec guard); the long key replaces a ~170-char
    * string band key in the self-join shuffle. The family is fixed (see
    * [[MinHashBands]]), so band keys are reproducible run to run. */
  private[graft] def bandRows(rows: DataFrame, toks: Column, carry: Column*): DataFrame =
    rows.select(carry :+ explode(MinHashBands.keysOf(toks)).as("key"): _*)

  /** Near-dup doc pairs (a_id < b_id, jacc) with set-Jaccard >= threshold,
    * mask identity; the matrix above places each entry point. */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame =
    pipeline(docs, threshold, masked = true, newIds = None, clusters = false)

  def minhashNearDupsUnbounded(docs: DataFrame, threshold: Double): DataFrame =
    pipeline(docs, threshold, masked = false, newIds = None, clusters = false)

  /** The pairs of existing ∪ new that involve at least one doc of `newDocs`. */
  def minhashNearDupsIncremental(existingDocs: DataFrame, newDocs: DataFrame,
                                 threshold: Double): DataFrame =
    pipeline(arrivals(existingDocs, newDocs), threshold, masked = true,
      newIds = Some(newDocs.select(col("doc_id"))), clusters = false)

  def minhashNearDupsIncrementalUnbounded(existingDocs: DataFrame, newDocs: DataFrame,
                                          threshold: Double): DataFrame =
    pipeline(arrivals(existingDocs, newDocs), threshold, masked = false,
      newIds = Some(newDocs.select(col("doc_id"))), clusters = false)

  /** Near-dup clusters: (doc_id, cluster_id) for every doc in some near-dup
    * pair; cluster_id is the cluster's minimum doc_id (the survivor).
    * Equals dedupClusters(jaccardPairs(docs, t)) — asserted in
    * TextDedupSpec, where the all-pairs [[jaccardPairs]] is the oracle. */
  def nearDupClusters(docs: DataFrame, threshold: Double): DataFrame =
    pipeline(docs, threshold, masked = true, newIds = None, clusters = true)

  def nearDupClustersUnbounded(docs: DataFrame, threshold: Double): DataFrame =
    pipeline(docs, threshold, masked = false, newIds = None, clusters = true)

  /** Fold a new batch into existing (doc_id, cluster_id) labels WITHOUT
    * recomputing old components: new pairs come from the incremental
    * miner, then [[foldLabels]]. Folding batches in arrival order
    * reproduces [[nearDupClusters]]' batch answer exactly (law in
    * TextDedupSpec) — a corpus appends a batch, reprices only the touched
    * clusters, and never re-mines history. */
  def nearDupClustersIncremental(existingLabels: DataFrame, existingDocs: DataFrame,
                                 newDocs: DataFrame, threshold: Double): DataFrame =
    foldLabels(existingLabels, minhashNearDupsIncremental(existingDocs, newDocs, threshold))

  def nearDupClustersIncrementalUnbounded(existingLabels: DataFrame,
                                          existingDocs: DataFrame,
                                          newDocs: DataFrame,
                                          threshold: Double): DataFrame =
    foldLabels(existingLabels,
      minhashNearDupsIncrementalUnbounded(existingDocs, newDocs, threshold))

  private def arrivals(existingDocs: DataFrame, newDocs: DataFrame): DataFrame =
    existingDocs.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))

  /** An incremental call's new side: its ids and its (doc_id, key)
    * members, both batch-bounded. */
  private[operators] case class Batch(ids: DataFrame, members: DataFrame)

  /** The pipeline (see the head of this section). `clusters` swaps stage 3
    * for stage 4; incremental clusters fold mined pairs instead. */
  private def pipeline(docs: DataFrame, threshold: Double, masked: Boolean,
                       newIds: Option[DataFrame], clusters: Boolean): DataFrame = {
    val key = if (masked) "mask" else "setid"
    val (members, groups) = identities(docs, key, counted = clusters || !masked)
    val keyed = members.select(col("doc_id"), col(key))
    val batch = newIds.map(ids => Batch(ids, keyed.join(broadcast(ids), "doc_id")))
    val probeKeys = batch.map(_.members.select(col(key)).distinct())
    // stage 2 yields pairs in each form's native endpoint: identity pairs
    // for mask (verified in-join on masks), rep pairs for setid
    val (native, pairs) =
      if (masked) (key, minhashVerifiedRepPairs(docs, groups, threshold, probeKeys))
      else ("rep", unboundedRepPairs(members, groups, threshold, probeKeys))
    def endpoints(to: String) = if (to == native) pairs else relabel(pairs, groups, native, to)
    if (clusters) labelClusters(keyed, groups, key, endpoints("rep"))
    else expandPairs(keyed, key, endpoints(key), batch)
  }

  /** Stage 1: members (doc_id, key[, toks]), checkpointed because grouping,
    * both expansion sides and the intra pairs read it (localCheckpoint =
    * executor-local blocks + truncated lineage, right for single-job
    * mining), and groups (key, rep[, grp_n]). `counted` groups carry the
    * group size and are checkpointed too: the labeller and the setid
    * form's rep joins read them several times; mask mining reads them once. */
  private def identities(docs: DataFrame, key: String,
                         counted: Boolean): (DataFrame, DataFrame) = {
    val members = (if (key == "mask") tokenMasks(docs).select(col("doc_id"), col("mask"))
      else setMembers(docs)).localCheckpoint(true)
    val byKey = members.groupBy(col(key))
    val groups =
      if (!counted) byKey.agg(min(col("doc_id")).as("rep"))
      else byKey.agg(min(col("doc_id")).as("rep"), count(lit(1)).as("grp_n"))
        .localCheckpoint(true)
    (members, groups)
  }

  /** The setid identity: (doc_id, setid = sha256 of the sorted distinct-
    * token list, toks = that list). Shared with the persisted [[LshIndex]],
    * so both sides of the stored-index-equals-fresh-mining law derive
    * identity from this one definition. */
  private[operators] def setMembers(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_sort(tokenSet(col("text"))).as("toks"))
      .withColumn("setid", sha2(concat_ws(" ", col("toks")), 256))
      .select(col("doc_id"), col("setid"), col("toks"))

  /** Stage 2, mask form: bands of each distinct token set's rep, each row
    * carrying its bitmask, then a band self-join with exact verification
    * inside the join (two popcounts); returns distinct (a_mask, b_mask,
    * jacc). With `probeMasks`, only bands of those masks sit on the left,
    * and pairs are mask-normalized because a probe-probe pair collides in
    * both directions. */
  private def minhashVerifiedRepPairs(docs: DataFrame, groups: DataFrame, threshold: Double,
                                      probeMasks: Option[DataFrame]): DataFrame = {
    // repDocs is O(distinct content) — plain join, AQE decides broadcast.
    // Both sides of the self-join read the banded table: materialize once,
    // or the banding upstream executes once per side
    val repDocs = docs.join(
      groups.select(col("rep"), col("mask")), docs("doc_id") === col("rep"))
    val bands = bandRows(repDocs, tokenSet(col("text")), col("doc_id"), col("mask"))
      .localCheckpoint(true)
    val lBands = probeMasks.fold(bands)(pm => bands.join(broadcast(pm), "mask"))
    val l = lBands.select(col("key"), col("doc_id").as("a_id"), col("mask").as("a_mask"))
    val r = bands.select(col("key"), col("doc_id").as("b_id"), col("mask").as("b_mask"))
    val pairFilter =
      if (probeMasks.isDefined) col("a_id") =!= col("b_id") else col("a_id") < col("b_id")
    l.join(r, Seq("key")).filter(pairFilter)
      .withColumn("jacc", maskJaccard(col("a_mask"), col("b_mask")))
      .filter(col("jacc") >= threshold)
      .select(least(col("a_mask"), col("b_mask")).as("a_mask"),
              greatest(col("a_mask"), col("b_mask")).as("b_mask"), col("jacc"))
      .distinct() // only true pairs left, at band multiplicity
  }

  /** Stage 2, setid form from docs: bands straight from each rep's
    * canonical token array (each band row carries its set size n), then
    * [[verifyBandPairs]]. With `probeSetids`, only bands of reps whose
    * group holds a new doc sit on the left. Returns (a_rep, b_rep, jacc). */
  private def unboundedRepPairs(members: DataFrame, groups: DataFrame, threshold: Double,
                                probeSetids: Option[DataFrame]): DataFrame = {
    val repToks = members.join(
      groups.select(col("rep")), members("doc_id") === col("rep"))
      .select(col("doc_id"), col("toks"))
    val bands = bandRows(repToks, col("toks"),
      col("doc_id"), size(col("toks")).cast(LongType).as("n")).localCheckpoint(true)
    val lBands = probeSetids.fold(bands) { ids =>
      bands.join(broadcast(groups.join(broadcast(ids), "setid")
        .select(col("rep").as("doc_id"))), "doc_id")
    }
    verifyBandPairs(lBands, bands, repToks, "doc_id", threshold, probe = probeSetids.isDefined)
  }

  /** Stage 2's setid verifier, shared by the from-docs form and
    * [[LshIndex.probe]]: the band join over (key, `id`, n) rows, the
    * in-join size-ratio prefilter, then exact Jaccard once per distinct
    * candidate pair from `toks` (`id`, toks). The prefilter is SOUND:
    * jacc >= t forces min(|A|,|B|)/max(|A|,|B|) >= t, so it only kills
    * mid-similarity candidates before the distinct/fetch shuffle. `probe`
    * (left = the batch's bands only) normalizes pairs, because a
    * probe-probe pair collides in both directions. Returns (a_rep, b_rep,
    * jacc) with a_rep < b_rep. */
  private[operators] def verifyBandPairs(lBands: DataFrame, rBands: DataFrame,
                                         toks: DataFrame, id: String, threshold: Double,
                                         probe: Boolean): DataFrame = {
    val pairFilter =
      if (probe) col("a_rep") =!= col("b_rep") else col("a_rep") < col("b_rep")
    lBands.select(col("key"), col(id).as("a_rep"), col("n").as("na"))
      .join(rBands.select(col("key"), col(id).as("b_rep"), col("n").as("nb")), Seq("key"))
      .filter(pairFilter)
      .filter(least(col("na"), col("nb")).cast(DoubleType) >=
        lit(threshold) * greatest(col("na"), col("nb")).cast(DoubleType))
      .select(least(col("a_rep"), col("b_rep")).as("a_rep"),
              greatest(col("a_rep"), col("b_rep")).as("b_rep")).distinct()
      .join(toks.select(col(id).as("a_rep"), col("toks").as("a_toks")), "a_rep")
      .join(toks.select(col(id).as("b_rep"), col("toks").as("b_toks")), "b_rep")
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))).cast(DoubleType))
      .withColumn("jacc", col("inter") /
        (size(col("a_toks")) + size(col("b_toks")) - col("inter")))
      .filter(col("jacc") >= threshold)
      .select(col("a_rep"), col("b_rep"), col("jacc"))
  }

  /** Map both endpoints of an (a_`from`, b_`from`, jacc) pair frame
    * through `lookup`'s (`from`, `to`) columns: rep → setid ahead of the
    * doc expansion, mask → rep ahead of the labeller. */
  private[operators] def relabel(pairs: DataFrame, lookup: DataFrame,
                                 from: String, to: String): DataFrame =
    pairs.join(lookup.select(col(from).as(s"a_$from"), col(to).as(s"a_$to")), s"a_$from")
      .join(lookup.select(col(from).as(s"b_$from"), col(to).as(s"b_$to")), s"b_$from")
      .select(col(s"a_$to"), col(s"b_$to"), col("jacc"))

  /** Stage 3: identity pairs (a_`key`, b_`key`, jacc) → doc pairs (a_id <
    * b_id, jacc) via `members` (doc_id, `key`), plus the pairs inside each
    * group — Jaccard 1 by construction, so >= any valid threshold. Cross
    * and intra pairs are disjoint (a cross pair never shares a key) and
    * each is unique, so no distinct() is paid over the pair set.
    *
    * With a `batch`, intra pairs join every member against the batch's
    * members: a both-new pair appears in both orientations and keeps only
    * a<b, an old-new pair appears once. Then old-old doc pairs (reported
    * when their later member arrived) drop in one flagged pass — two
    * semi-join branches would execute the whole expand+verify chain once
    * per branch. */
  private[operators] def expandPairs(members: DataFrame, key: String, setPairs: DataFrame,
                                     batch: Option[Batch]): DataFrame = {
    val (aKey, bKey) = (s"a_$key", s"b_$key")
    val cross = members.select(col("doc_id").as("da"), col(key).as(aKey))
      .join(setPairs, aKey)
      .join(members.select(col("doc_id").as("db"), col(key).as(bKey)), bKey)
      .select(least(col("da"), col("db")).as("a_id"),
              greatest(col("da"), col("db")).as("b_id"), col("jacc"))
    val left = members.select(col("doc_id").as("a_id"), col(key))
    batch match {
      case None =>
        cross.unionByName(left
          .join(members.select(col("doc_id").as("b_id"), col(key)), key)
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), lit(1.0).as("jacc")))
      case Some(Batch(ids, newMembers)) =>
        def isNew(side: String) =
          broadcast(ids.select(col("doc_id").as(s"${side}_id"), lit(1).as(s"${side}_new")))
        val intra = left.join(isNew("a"), Seq("a_id"), "left")
          .join(broadcast(newMembers.select(col("doc_id").as("b_id"), col(key))), key)
          .filter(col("a_id") =!= col("b_id") &&
            (col("a_new").isNull || col("a_id") < col("b_id")))
          .select(least(col("a_id"), col("b_id")).as("a_id"),
                  greatest(col("a_id"), col("b_id")).as("b_id"), lit(1.0).as("jacc"))
        cross.unionByName(intra)
          .join(isNew("a"), Seq("a_id"), "left").join(isNew("b"), Seq("b_id"), "left")
          .filter(col("a_new").isNotNull || col("b_new").isNotNull)
          .select(col("a_id"), col("b_id"), col("jacc"))
    }
  }

  /** Stage 4: connected components over the REP graph (one node per
    * distinct set, edges = verified rep pairs), expanded to members — the
    * union-find iterates over ~|distinct sets| edges, never the doc-pair
    * blowup. Reps with edges carry their propagated label; edge-less
    * groups of size >= 2 are their own cluster (their intra pairs), labelled
    * by the rep = the group's min doc_id. The edges are not checkpointed
    * here: dedupClusters checkpoints them as its edge set, and an extra
    * eager checkpoint cost one whole Spark job of pure overhead. */
  private def labelClusters(members: DataFrame, groups: DataFrame, key: String,
                            repPairs: DataFrame): DataFrame = {
    val repLabels =
      dedupClusters(repPairs.select(col("a_rep").as("a_id"), col("b_rep").as("b_id")))
    val labeled = groups
      .join(repLabels.select(col("doc_id").as("rep"), col("cluster_id")), Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || col("grp_n") >= 2)
      .select(col(key), coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
    members.join(labeled, key).select(col("doc_id"), col("cluster_id"))
  }

  // ---- dedup clusters (connected components) ---------------------------

  /** Connected components over near-dup pairs: every document in a
    * transitively-connected near-dup cluster maps to the cluster's
    * smallest id (the survivor). This is the dedup ACTION that pair
    * mining feeds — keep cluster_id == doc_id, drop the rest.
    *
    * Algorithm: per-partition union-find + graph contraction (the
    * MapReduce connected-components shape, cf. Kiveris et al., "Connected
    * Components in MapReduce and Beyond"). Each superstep runs union-find
    * inside every partition (mapPartitions — genuine per-partition
    * imperative logic, memory bounded by partition size), merges the
    * per-partition roots by min, contracts every edge through that
    * mapping, and drops self-loops. The graph shrinks by roughly the
    * partition-local structure per superstep, so 2–3 supersteps finish
    * real near-dup graphs regardless of chain diameter — where one-hop
    * min-label propagation needed diameter rounds (measured: 8 rounds /
    * ~80 AQE jobs → 2 supersteps / ~10 jobs on the sf0.1 graph, whose
    * 0.9-threshold chains are NOT near-cliques). Labels compose across
    * supersteps and are exact component minima at termination —
    * deterministic and partitioning-independent. Each superstep
    * materializes via localCheckpoint: iterating over unbounded lineage
    * would replay all prior supersteps and overflow the planner. */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // checkpoint edges FIRST — the input plan (often a whole LSH mining
    // pipeline) must execute exactly once
    var edges = pairs
      .select(least(col("a_id"), col("b_id")).cast(LongType).as("a"),
              greatest(col("a_id"), col("b_id")).cast(LongType).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(false) // lazy: the count() below materializes it (one job, not two)
    // per-superstep min-root maps; labels are composed ONCE at the end
    // (updating a labels table every superstep would cost an extra
    // materialization per round). The first map covers every node — each
    // edge endpoint enters its partition's union-find — so it doubles as
    // the initial label table.
    val maps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var nEdges = edges.count()
    var iter = 0
    // Partition budget for the union-find: ~1M edges per task (a HashMap of
    // ≤2M nodes, bounded memory). Sizing partitions to the LIVE edge count
    // matters doubly: a graph that fits one task resolves in a single
    // superstep (the whole graph is in one union-find), and later
    // supersteps — where contraction has shrunk the graph by orders of
    // magnitude — stop paying 32 near-empty tasks plus their scheduling.
    // Results are partitioning-independent (exact component minima), so
    // this is purely a physical choice; coalesce is narrow (no shuffle).
    val EdgesPerTask = 1000000L
    // cap at the cluster's parallelism rather than the frame's current
    // partition count: reading the latter (.rdd.getNumPartitions) forces a
    // plan conversion every superstep. coalesce above the current count is
    // a no-op, so the cap only ever narrows; coalesce is narrow (no shuffle).
    val maxPar = math.max(1L, spark.sparkContext.defaultParallelism.toLong)
    def sized(df: DataFrame, n: Long): DataFrame =
      df.coalesce(math.max(1L,
        math.min(maxPar, (n + EdgesPerTask - 1) / EdgesPerTask)).toInt)
    while (nEdges > 0 && iter < maxIters) {
      // union-find within each partition: node -> min id of its local set
      val local = sized(edges, nEdges).as[(Long, Long)].mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }.toDF("id", "root")
      // a node split across partitions gets the min of its local roots;
      // contraction below re-links whatever this min-merge leaves apart
      val m = local.groupBy(col("id")).agg(min(col("root")).as("root"))
        .localCheckpoint(false) // lazy: the contraction join materializes it
      maps += m
      edges = edges
        .join(m.select(col("id").as("a"), col("root").as("ra")), "a")
        .join(m.select(col("id").as("b"), col("root").as("rb")), "b")
        .filter(col("ra") =!= col("rb"))
        .select(least(col("ra"), col("rb")).as("a"), greatest(col("ra"), col("rb")).as("b"))
        .distinct()
        .localCheckpoint(false) // lazy: the count() below materializes it
      nEdges = edges.count()
      iter += 1
    }
    maps.headOption match {
      case None =>
        pairs.select(col("a_id").as("doc_id"), col("a_id").as("cluster_id")).limit(0)
      case Some(first) =>
        var labels = first.select(col("id"), col("root").as("label"))
        for (m <- maps.drop(1))
          labels = labels
            .join(m.select(col("id").as("label"), col("root")), Seq("label"), "left")
            .select(col("id"), coalesce(col("root"), col("label")).as("label"))
        labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** Star-edge label fold shared by both incremental cluster maintainers:
    * old clusters enter the component computation as STAR edges (doc →
    * its label) so the contraction input is O(labeled docs + new pairs),
    * never the historical pair set. */
  private def foldLabels(existingLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = existingLabels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a_id"), col("cluster_id").as("b_id"))
    // singleton clusters (label == id) re-enter via self-pair semantics:
    // dedupClusters keeps every node that appears in some edge, and a
    // previously-labeled doc always appears in its star edge unless it was
    // its own cluster AND alone — re-add those as explicit self-identities
    val singletons = existingLabels.filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"))
    val propagated = dedupClusters(
      starEdges.unionByName(newPairs.select(col("a_id"), col("b_id"))))
    // a self-labeled cluster head not touched by any edge keeps its label
    val untouchedHeads = singletons
      .join(propagated.select(col("doc_id")), Seq("doc_id"), "left_anti")
    propagated.unionByName(untouchedHeads)
  }

  // ---- SimHash + banded LSH -------------------------------------------

  val SimBits = 60
  val SimBands = 4 // 15 bits/band; pigeonhole: distance <= 3 ⇒ ≥1 band equal

  /** 60-bit SimHash over the distinct-token set (unit weights).
    * explode + one hash agg of 60 per-bit sums: 62 output fields, under
    * `spark.sql.codegen.maxFields` (100), so the agg stays inside
    * whole-stage codegen (PlanSpec guard; a wider agg silently falls out
    * of it, which is why MinHash bands through [[MinHashBands]] instead).
    * The nested lambda form was ~50× slower because higher-order
    * functions evaluate interpreted. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"), explode(expr(
      s"transform(array_distinct(split(text, ' ')), " +
        s"t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))")).as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until SimBits).map(j => sum(expr(s"(h >> $j) & 1")).as(s"s$j"))
    val simhash = expr((0 until SimBits)
      .map(j => s"if(2 * s$j > n, ${1L << j}L, 0L)").mkString(" + "))
    th.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** Pairs within `maxDist` Hamming distance. Banded LSH with
    * SimBands > maxDist gives EXACT recall (pigeonhole), so this is both
    * the scale path and oracle-checkable. Identical signatures are
    * collapsed before banding (same cluster-blowup reasoning as
    * [[minhashNearDups]]): banding runs over distinct signatures, then
    * signature-level pairs expand back to doc pairs. */
  def simhashNearDups(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < SimBands, "pigeonhole guarantee needs maxDist < SimBands")
    // consumed by 4 branches (banding, both expansion sides, intra pairs):
    // materialize once — same reasoning as [[identities]]
    val sig = simhashSignatures(docs).localCheckpoint(true) // doc_id, simhash
    val distinctSigs = sig.select(col("simhash")).distinct()
    val bandBits = SimBits / SimBands
    // explode-then-compute (codegen) rather than a transform() lambda
    // (interpreted); hamming-filter INSIDE the join stage so far pairs
    // that merely share one 15-bit band die before the distinct's shuffle
    val bands = distinctSigs
      .select(col("simhash"), explode(expr(s"sequence(0, ${SimBands - 1})")).as("band"))
      .select(col("simhash"), col("band"),
        expr(s"shiftright(simhash, band * $bandBits) & ${(1L << bandBits) - 1}").as("key"))
    val l = bands.select(col("band"), col("key"), col("simhash").as("a_sh"))
    val r = bands.select(col("band"), col("key"), col("simhash").as("b_sh"))
    val sigPairs = l.join(r, Seq("band", "key")).filter(col("a_sh") < col("b_sh"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast(LongType))
      .filter(col("hamming") <= maxDist)
      .select(col("a_sh"), col("b_sh"), col("hamming")).distinct()
    // sigPairs is O(near-dup signature pairs) — same no-hint discipline as
    // the MinHash family; AQE broadcasts at runtime when actually small
    val cross = sig.select(col("doc_id").as("da"), col("simhash").as("a_sh"))
      .join(sigPairs, "a_sh")
      .join(sig.select(col("doc_id").as("db"), col("simhash").as("b_sh")), "b_sh")
      .select(least(col("da"), col("db")).as("a_id"),
              greatest(col("da"), col("db")).as("b_id"), col("hamming"))
    val intra = sig.select(col("doc_id").as("a_id"), col("simhash"))
      .join(sig.select(col("doc_id").as("b_id"), col("simhash")), "simhash")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(0L).as("hamming"))
    cross.unionByName(intra)
  }
}
