package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED MinHash-LSH band/signature index — the stored-index column
  * of [[TextDedup]]'s one MinHash pipeline (the matrix at the head of its
  * MinHash section), and the text-dedup analog of
  * [[Similarity.buildIvfIndex]]'s cell-partitioned ANN index: a
  * continuous dedup-mining service builds the index once, and every later
  * ingest batch PROBES it — the corpus's signatures and band keys are
  * computed at build/append time and never again, and a probe reads only
  * the band buckets its own keys collide into (directory-level partition
  * pruning, asserted in LayoutSpec).
  *
  * Layout at `indexPath` (all parquet):
  *   - `conf`    — one row: (n_buckets) — the band-key bucketing modulus,
  *     fixed at build time (probes must bucket with the SAME modulus)
  *   - `members` — (doc_id, setid): every indexed doc's set identity
  *     (sha256 of its sorted distinct-token list — [[TextDedup.setMembers]])
  *   - `reps`    — (setid, rep, toks, n): one representative per distinct
  *     token set, carrying the set's sorted token array (exact-verify
  *     side) and its size (the sound in-join size-ratio prefilter)
  *   - `bands/bucket=<b>` — (key, rep, n): each rep's 32 band keys,
  *     PARTITIONED BY bucket = pmod(key, n_buckets), so a probe's
  *     `bucket IN (...)` binds to the directory key
  *
  * Scale accounting (the reason this exists): the from-docs incremental
  * miner re-derives members, signatures and band keys of `existing ∪ new`
  * on EVERY call — linear in the corpus per batch, quadratic over a
  * stream's life. With the index, per-batch work is: signatures for the
  * batch's reps only, a bucket-pruned read of collided band partitions,
  * the band join (∝ the batch's collisions), exact verification once per
  * distinct candidate pair, and the doc-level expansion joins. Only the
  * expansion touches corpus-sized tables (members, as join sides keyed by
  * setid) — no corpus-sized signature work survives.
  *
  * Maintenance is [[DedupAppend]] per table (idempotent under replay, so
  * a crashed append self-heals on re-delivery) under ONE Lease on the
  * index root — the three tables move together or not at all as far as
  * concurrent maintainers are concerned. Probes are read-only and take no
  * lease. Freshness is verifiable, not trusted: [[verifyIndex]]
  * fingerprints the stored members against the corpus the caller claims
  * is indexed (the same checksum_agg row-multiset discipline as
  * [[graft.plans.ProjectionCatalog.registerVerified]]), and
  * [[probeVerified]] REFUSES to mine from a stale index.
  *
  * Determinism contract making stored ≡ fresh exact: signatures depend
  * only on the token SET (minhashSignatures hashes tokenSet(text)), and
  * reps carry the set's canonical token array — so a stored rep's bands
  * and verify results are bit-identical to freshly-derived ones, whichever
  * member of the group happens to be the rep (law in TextDedupSpec).
  */
object LshIndex {

  /** Band-key bucket count. Buckets are rewrite/prune granularity, not
    * correctness: at 100 TB pick buckets so one bucket's band rows are
    * ~1 GiB (the [[UpsertState.mergeBucketed]] sizing rule); a probe
    * batch touching all buckets still reads only `bands`, never re-derives
    * it. */
  val DefaultBuckets = 64

  private def conf_(indexPath: String) = s"$indexPath/conf"
  private def membersP(indexPath: String) = s"$indexPath/members"
  private def repsP(indexPath: String) = s"$indexPath/reps"
  private def bandsP(indexPath: String) = s"$indexPath/bands"

  /** Rep rows (setid, rep, toks, n) of the distinct token sets in
    * `members` — rep = min doc_id present, toks = the set's canonical
    * sorted token array (identical for every group member by set
    * identity). */
  private def repsOf(members: DataFrame): DataFrame = {
    // joining on rep = doc_id alone is sufficient (doc_id is unique in
    // members, and the rep row's setid IS its group's setid) and avoids
    // the ambiguous-self-join trap of a setid-equality condition over a
    // frame and its own aggregation
    val reps = members.groupBy(col("setid")).agg(min(col("doc_id")).as("rep"))
      .select(col("rep"))
    members.join(reps, col("doc_id") === col("rep"))
      .select(col("setid"), col("rep"), col("toks"),
        size(col("toks")).cast(LongType).as("n"))
  }

  /** Band rows (key, rep, n, bucket) for rep rows. The signature is
    * computed from the canonical token array (tokenSet of the rejoined
    * text ≡ the set), so it equals the signature of any group member's
    * original text — the determinism the stored≡fresh law rests on. */
  private def bandsOf(reps: DataFrame, nBuckets: Int): DataFrame = {
    val sigs = TextDedup.minhashSignatures(
        reps.select(col("rep").as("doc_id"), concat_ws(" ", col("toks")).as("text")))
      .join(reps.select(col("rep").as("doc_id"), col("n")), "doc_id")
    TextDedup.bandKeys(sigs, Seq("n"))
      .select(col("key"), col("doc_id").as("rep"), col("n"),
        pmod(col("key"), lit(nBuckets.toLong)).as("bucket"))
  }

  /** Build the index AT REST over a corpus (overwrite). The one
    * corpus-sized signature pass ever paid. */
  def build(docs: DataFrame, indexPath: String,
            nBuckets: Int = DefaultBuckets): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets").coalesce(1)
      .write.mode("overwrite").parquet(conf_(indexPath))
    // reps reads members twice (group + self-join) and bands reads reps:
    // materialize each once
    val members = TextDedup.setMembers(docs).localCheckpoint(true)
    members.select(col("doc_id"), col("setid"))
      .write.mode("overwrite").parquet(membersP(indexPath))
    val reps = repsOf(members).localCheckpoint(true)
    reps.write.mode("overwrite").parquet(repsP(indexPath))
    bandsOf(reps, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(bandsP(indexPath))
  }

  private def readBuckets(spark: SparkSession, indexPath: String): Int =
    spark.read.parquet(conf_(indexPath)).head().getInt(0)

  /** Fold one ingest batch into the index: batch members append keyed on
    * doc_id; setids the index has never seen contribute a new rep row and
    * its band rows (an existing setid's rep, signature and bands are
    * already stored and UNTOUCHED — set identity makes them valid for the
    * new member too). Work ∝ the batch; idempotent under replay (every
    * append is key-deduplicated); single-writer under the index root's
    * lease, `owner` with the usual checkpoint-token self-heal contract. */
  def append(newDocs: DataFrame, indexPath: String,
             owner: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val live = new org.apache.hadoop.fs.Path(indexPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Lease.withLease(fs, live, "lsh index append", owner) {
      val nBuckets = readBuckets(spark, indexPath)
      val newMembers = TextDedup.setMembers(newDocs).localCheckpoint(true)
      // the inner appends are keyed-idempotent on their own; the lease is
      // already held on the root, so they run unleased (a second lease on
      // a child path would be redundant, not wrong)
      DedupAppend.appendUnleased(spark, newMembers.select(col("doc_id"), col("setid")),
        membersP(indexPath), keys = Seq("doc_id"), tieBreak = Nil)
      // setids new to the INDEX: reps/bands only for those. The stored
      // setid column is O(distinct corpus) — plain join, AQE decides.
      val storedSetids = spark.read.parquet(repsP(indexPath)).select(col("setid"))
      val newReps = repsOf(newMembers.join(storedSetids, Seq("setid"), "left_anti"))
        .localCheckpoint(true)
      // bands land BEFORE reps: the reps row is this append's COMMIT
      // MARKER — a crash after bands but before reps replays into a
      // recompute whose keyed anti-join skips the already-landed rows,
      // while the reverse order would see the setid "committed" and skip
      // the bands forever. The anti-join reads ONLY the batch's collided
      // buckets (a duplicate (key, rep) necessarily shares its key's
      // bucket), never the full band store — per-append work stays ∝ the
      // batch at any corpus size; the touched-bucket collect is bounded
      // by n_buckets. (DedupAppend's generic anti-join would scan every
      // bucket — the one place the index needs its own dedup.)
      val newBands = bandsOf(newReps, nBuckets)
        .dropDuplicates("key", "rep").localCheckpoint(true)
      val freshBands =
        if (!DedupAppend.exists(spark, bandsP(indexPath))) newBands
        else {
          val touched = newBands.select(col("bucket")).distinct()
            .collect().map(_.getLong(0)) // ≤ n_buckets by construction
          if (touched.isEmpty) newBands.limit(0)
          else newBands.join(
            spark.read.parquet(bandsP(indexPath))
              .filter(col("bucket").isin(touched: _*)) // directory-pruned
              .select(col("key"), col("rep")),
            Seq("key", "rep"), "left_anti")
        }
      freshBands.write.mode("append").partitionBy("bucket").parquet(bandsP(indexPath))
      DedupAppend.appendUnleased(spark, newReps, repsP(indexPath),
        keys = Seq("setid"), tieBreak = Nil)
    }
  }

  /** Mine the new-touching near-dup pairs of a batch AGAINST THE INDEX —
    * [[TextDedup.minhashNearDupsIncrementalUnbounded]] served from the
    * store. Contract: the batch is already appended ([[append]] first,
    * then probe — which also makes a replayed batch probe the identical
    * index state). Per-batch signature work is the batch's reps only;
    * the stored band read prunes to the probe's collided buckets (the
    * `bucket IN` filter binds to the directory key; the bucket-id collect
    * is bounded by n_buckets, never by data). Verification and expansion
    * are the pipeline's own stages, so this equals fresh from-docs
    * incremental mining exactly (law in TextDedupSpec). */
  def probe(spark: SparkSession, indexPath: String, newDocs: DataFrame,
            threshold: Double): DataFrame = {
    val nBuckets = readBuckets(spark, indexPath)
    val newIds = newDocs.select(col("doc_id"))
    // batch-bounded by the incremental contract → legitimate broadcasts
    val newMembers = TextDedup.setMembers(newDocs)
      .select(col("doc_id"), col("setid")).localCheckpoint(true)
    val reps = spark.read.parquet(repsP(indexPath))
    // probe side: the stored reps of the batch's setids (batch-bounded)
    val probeReps = reps
      .join(broadcast(newMembers.select(col("setid")).distinct()), "setid")
      .localCheckpoint(true)
    // append-then-probe contract, ENFORCED: a batch setid absent from the
    // stored reps would silently mine nothing for those docs — refuse
    // loudly instead. Both sides are batch-bounded (probeReps is already
    // materialized), so the check costs one small job, never a corpus pass.
    val missing = newMembers.select(col("setid")).distinct()
      .join(broadcast(probeReps.select(col("setid"))), Seq("setid"), "left_anti")
    require(missing.isEmpty,
      s"probe batch holds set identities absent from the index at $indexPath — " +
        "append the batch first (the append-then-probe contract)")
    // probe band keys recomputed from the batch's reps (batch-sized work,
    // deterministic ≡ the stored rows); collided buckets bound the read
    val probeBands = bandsOf(probeReps, nBuckets).localCheckpoint(true)
    val wanted = probeBands.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)) // ≤ n_buckets by construction
    val stored = spark.read.parquet(bandsP(indexPath))
      .filter(col("bucket").isin(wanted: _*)) // binds to the directory key
    // verification reads the STORED canonical token arrays; expansion
    // runs over the STORED members, which include the batch (append ran
    // first)
    val verified = TextDedup.verifyBandPairs(probeBands, stored, reps, "rep", threshold,
      probe = true)
    TextDedup.expandPairs(spark.read.parquet(membersP(indexPath)), "setid",
      TextDedup.relabel(verified, reps, "rep", "setid"),
      Some(TextDedup.Batch(newIds, newMembers)))
  }

  /** Compact the index's three tables in place — the maintenance pass a
    * long-lived index runs after enough [[append]]s have accumulated
    * per-batch small files ([[Compaction]]'s 100 TB argument: probe scan
    * cost degrades to file-open overhead once files shrink). members and
    * reps compact flat; bands compact PER BUCKET PARTITION, preserving
    * the `bucket=` directory layout the probe's pruning binds to. Each
    * table goes through the checked rewrite-then-swap dance
    * ([[TableSwap]] — recoverable at every step, never an in-place
    * overwrite of a directory a concurrent probe may be scanning), all
    * under the ONE index-root lease [[append]] also takes, so compaction
    * and maintenance appends serialize. Probe results are invariant
    * (exact row multisets move; LshIndexSpec law). Returns total data
    * files after compaction. */
  def compact(spark: SparkSession, indexPath: String, targetFileBytes: Long,
              owner: Option[String] = None): Long = {
    val live = new org.apache.hadoop.fs.Path(indexPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Lease.withLease(fs, live, "lsh index compaction", owner) {
      def one(path: String, partCol: Option[String]): Long = {
        val t = new org.apache.hadoop.fs.Path(path)
        val tmp = t.suffix("__compacting")
        val backup = t.suffix("__precompact")
        TableSwap.recover(fs, t, tmp, backup, "lsh index compaction")
        partCol match {
          case Some(c) =>
            Compaction.compactPartitioned(spark, path, tmp.toString, c, targetFileBytes)
          case None =>
            Compaction.compact(spark, path, tmp.toString, targetFileBytes)
        }
        TableSwap.swapInto(fs, t, tmp, backup, liveExists = true, "lsh index compaction")
        Compaction.dataFileCount(spark, path)
      }
      one(membersP(indexPath), None) +
        one(repsP(indexPath), None) +
        one(bandsP(indexPath), Some("bucket"))
    }
  }

  /** TRUE iff the stored members are exactly `corpus`'s (doc_id, setid)
    * row multiset — the freshness check of the index contract (one
    * map-combinable checksum pass per side, the
    * [[graft.plans.ProjectionCatalog.fingerprint]] discipline). A corpus
    * append that skipped [[append]] — or an index append whose corpus
    * write failed — flips this. */
  def verifyIndex(corpus: DataFrame, indexPath: String): Boolean = {
    val spark = corpus.sparkSession
    val cols = Seq("doc_id", "setid")
    graft.plans.ProjectionCatalog.fingerprint(
      TextDedup.setMembers(corpus).select(cols.map(col): _*), cols) ==
      graft.plans.ProjectionCatalog.fingerprint(
        spark.read.parquet(membersP(indexPath)).select(cols.map(col): _*), cols)
  }

  /** [[probe]] gated on [[verifyIndex]]: a stale index (missed
    * maintenance, partial write, manual edit) is DETECTED AND REFUSED
    * instead of silently mining incomplete pairs — registerVerified's
    * discipline applied to the mining service. `corpus` is what the
    * caller claims is indexed (existing ∪ the already-appended batch). */
  def probeVerified(spark: SparkSession, indexPath: String, corpus: DataFrame,
                    newDocs: DataFrame, threshold: Double): DataFrame = {
    require(verifyIndex(corpus, indexPath),
      s"LSH index at $indexPath fingerprint mismatch vs the claimed corpus " +
        "(stale or tampered index) — refusing to mine")
    probe(spark, indexPath, newDocs, threshold)
  }
}
