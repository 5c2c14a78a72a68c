package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashBands
import graft.functions.TextFns.{P31, tokenSet}
import graft.operators.TextDedup

class TextDedupSpec extends AnyFunSuite {
  import TestSpark._

  lazy val docs = Tables.t(spark, sf, "documents")

  test("exact dedup: survivors partition the corpus") {
    val out = TextDedup.exact(docs).collect()
    assert(out.map(_.getAs[Long]("n_copies")).sum == docs.count())
  }

  test("tokenMasks fails loudly when the vocabulary exceeds 63 tokens") {
    import spark.implicits._
    val wide = Seq((1L, (0 until 80).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] { TextDedup.tokenMasks(wide).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("|vocab| <= 63")))
  }

  test("shingles: n-gram sets are exact, short docs contribute none") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "x y z")).toDF("doc_id", "text")
    val got = TextDedup.shingles(df, 3).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, v) => k -> v.map(_.getAs[String]("shingle")).toSet }
    assert(got.getOrElse(1L, Set()) == Set("a b c", "b c d", "c d e"))
    assert(!got.contains(2L)) // < n tokens -> no shingles
    assert(got.getOrElse(3L, Set()) == Set("x y z"))
  }

  test("ngram jaccard: exact overlap arithmetic and identical-text intra pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),  // shingles {abc,bcd,cde}
      (2L, "a b c d f"),  // shingles {abc,bcd,cdf}; inter=2 union=4 -> 0.5
      (3L, "a b c d e"),  // identical to 1 -> intra pair jacc 1.0
      (4L, "q r s t u")   // unrelated
    ).toDF("doc_id", "text")
    val got = TextDedup.ngramJaccardPairs(df, 3, 0.4).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("jacc")).toMap
    assert(got((1L, 2L)) == 0.5)
    assert(got((2L, 3L)) == 0.5) // via rep expansion of the identical pair
    assert(got((1L, 3L)) == 1.0)
    assert(got.size == 3)
  }

  test("ngram jaccard: stop-shingle cap preserves pairs and exact values (capped ≡ uncapped)") {
    // cap 4 drops ~190 of the corpus's 16.5k distinct shingles (df 5–9) from
    // candidate generation; the exact re-verify restores true intersections,
    // and no 0.8-pair can lose ALL its ≥44% shared shingles to the cap
    val uncapped = TextDedup.ngramJaccardPairs(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = TextDedup.ngramJaccardPairs(docs, 3, 0.8, maxShingleDf = Some(4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("containment: short doc inside long doc scores 1.0 forward, low backward") {
    import spark.implicits._
    val short_ = "the quick brown fox jumps over dogs"        // 5 shingles
    val long_ = ("prefix words here and there again lots of filler tokens " * 3) +
      short_ + " suffix run of extra trailing context material"
    val df = Seq((1L, short_), (2L, long_), (3L, "completely different content"),
      (4L, short_)).toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(df, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc1 ⊂ doc2: forward containment 1.0; backward (long in short) far below 0.8
    assert(got.contains((1L, 2L, 1.0)))
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L))
    // identical texts (1,4) contain each other fully, both directions
    assert(got.contains((1L, 4L, 1.0)) && got.contains((4L, 1L, 1.0)))
    // the duplicate of doc1 inherits doc1's cross pairs
    assert(got.contains((4L, 2L, 1.0)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment: cap path re-verifies exactly (capped ≡ uncapped on the corpus)") {
    val full = TextDedup.containmentPairs(docs.limit(200), 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = TextDedup.containmentPairs(docs.limit(200), 3, 0.8,
        maxShingleDf = Some(50L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == full)
  }

  test("jaccard pairs: values within (0.9, 1], pairs ordered a<b") {
    val rows = TextDedup.jaccardPairs(docs, 0.9).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jacc")
      assert(j >= 0.9 && j <= 1.0)
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
    }
  }

  /** The formulation [[graft.functions.MinHashBands]] replaced, kept here
    * as the kernel's reference: explode the token set, one NumPerms-column
    * `min` aggregate per doc, then per band xxhash64(band, the band's
    * signature slice cast to string). (doc_id, band, key). */
  private def referenceBands(docs: DataFrame): DataFrame = {
    import MinHashBands.{NumBands, NumPerms, RowsPerBand, permA, permB}
    val th = docs.select(col("doc_id"), explode(tokenSet(col("text"))).as("tok"))
      .select(col("doc_id"), pmod(xxhash64(col("tok")), lit(P31)).as("h"))
    val mins = (0 until NumPerms).map(i =>
      min(expr(s"(${permA(i)}L * h + ${permB(i)}L) % $P31")).as(s"m$i"))
    th.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until NumPerms).map(i => col(s"m$i")): _*).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${NumBands - 1})")).as("band"))
      .select(col("doc_id"), col("band"), expr(
        s"xxhash64(band, cast(slice(sig, band * $RowsPerBand + 1, $RowsPerBand) as string))")
        .as("key"))
  }

  /** Docs the whitespace tokenizer treats unusually, ids from 10000. */
  private def edgeDocs: DataFrame = {
    import spark.implicits._
    Seq[(Long, String)]((10000L, null), (10001L, ""), (10002L, "alpha  beta"),
      (10003L, "café é naïve"), (10004L, "smile \uD83D\uDE00 grin"), (10005L, "solo"),
      (10006L, "alpha beta"), (10007L, "café é naïve \uD83D\uDE00"))
      .toDF("doc_id", "text")
  }

  test("MinHash kernel law: band keys equal the explode + min-aggregate reference, per doc") {
    val all = docs.select(col("doc_id"), col("text")).unionByName(edgeDocs)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ref = keyed(referenceBands(all).collect())
    val got = keyed(all.select(col("doc_id"),
      posexplode(MinHashBands.keysOf(tokenSet(col("text"))))).collect())
    assert(ref.size == (500 + edgeDocs.count() - 1) * MinHashBands.NumBands,
      "every doc but the null text has NumBands reference bands")
    assert(!got.keys.exists(_._1 == 10000L), "a null text has no band rows")
    assert(got == ref)
    // the vocab > 63 corpus (every token suffixed with its doc's lang)
    assert(keyed(wideDocs.select(col("doc_id"),
      posexplode(MinHashBands.keysOf(tokenSet(col("text"))))).collect()) ==
      keyed(referenceBands(wideDocs).collect()))
    // a set's keys do not depend on token order or repeats (the setid form
    // bands the sorted array, LshIndex the rejoined text)
    val one = all.filter(col("doc_id") === 10007L)
    def keysOf(t: org.apache.spark.sql.Column) =
      one.select(MinHashBands.keysOf(t)).head().getSeq[Long](0)
    assert(keysOf(array_sort(tokenSet(col("text")))) == keysOf(tokenSet(col("text"))))
    assert(keysOf(split(concat_ws(" ", col("text"), col("text")), " ")) ==
      keysOf(tokenSet(col("text"))))
  }

  test("mask and setid pipelines return exactly the exact pairs whose docs share a reference band") {
    // At 0.7 the 32×8 S-curve misses ~15% of true pairs, so the pair set
    // depends on the band keys themselves: it must be the exact-Jaccard
    // pairs whose two docs share a band key of the reference formulation.
    val t = 0.7
    val all = docs.select(col("doc_id"), col("text"))
      .unionByName(edgeDocs.filter(col("text").isNotNull)).localCheckpoint(true)
    val ref = referenceBands(all)
    val collide = ref.select(col("key"), col("doc_id").as("a_id"))
      .join(ref.select(col("key"), col("doc_id").as("b_id")), "key")
      .filter(col("a_id") < col("b_id")).select(col("a_id"), col("b_id")).distinct()
    val expected = TextDedup.jaccardPairs(all, t).join(collide, Seq("a_id", "b_id"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jacc"))).toSet
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = TextDedup.jaccardPairs(all, t).collect().length
    assert(expected.nonEmpty && expected.size < exact,
      s"the threshold must make banding lose pairs: ${expected.size} of $exact")
    assert(canon(TextDedup.minhashNearDups(all, t).collect()) == expected)
    assert(canon(TextDedup.minhashNearDupsUnbounded(all, t).collect()) == expected)
  }

  test("minhash LSH candidates ⊇ true near-dup pairs (recall) and verified output equals exact") {
    val exact = TextDedup.jaccardPairs(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashNearDups(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // banding at 32x4 recalls everything at s>=0.9 here
  }

  test("unbounded-vocab LSH mining equals the bitmask form (and survives vocab > 63)") {
    import org.apache.spark.sql.functions._
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val masked = canon(TextDedup.minhashNearDups(docs, 0.9).collect())
    val unbounded = canon(TextDedup.minhashNearDupsUnbounded(docs, 0.9).collect())
    assert(unbounded == masked)
    // a corpus the bitmask form REJECTS (vocab > 63) still mines correctly:
    // two near-identical 80-token docs + 80 distinct-token noise docs
    import spark.implicits._
    val base = (0 until 80).map(i => s"tok$i")
    val wide = (Seq(
      (0L, base.mkString(" ")),
      (1L, (base.drop(1) :+ "tok0").mkString(" "))) ++ // same set, reordered
      (2L to 10L).map(i => (i, (0 until 80).map(j => s"n${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    intercept[Exception] { TextDedup.minhashNearDups(wide, 0.9).collect() }
    val got = canon(TextDedup.minhashNearDupsUnbounded(wide, 0.9).collect())
    assert(got == Set((0L, 1L, 1.0)))
  }

  test("adversarial hot band buckets: mass collisions of distinct-but-similar sets stay bounded") {
    import spark.implicits._
    // 500 distinct 33-token sets sharing a 30-token core: a band whose 8
    // minhash rows all land in the core (prob (30/33)^8 ≈ 0.47) hashes to
    // the SAME bucket, so each band carries a hot bucket of ~235 docs.
    // Every cross pair sits at jacc 30/36 ≈ 0.83 < 0.9 — the candidate
    // stream is ~quadratic in the bucket while the true answer is 2 pairs.
    // Worst-task bound, documented: the band index is hashed INTO the band
    // key (xxhash64(band, slice)), so the 32 hot buckets are 32 DIFFERENT
    // shuffle keys spread across reducers by construction — no single task
    // owns all hot pairs; the sound in-join size-ratio filter and the
    // once-per-distinct-pair exact verify keep everything downstream of
    // the band join linear in true pairs. (Identical-set collapse — the
    // other skew defense — deliberately can't help here: all sets are
    // distinct.)
    val core = (0 until 30).map(i => s"core$i")
    val noise = (0 until 500).map { i =>
      (i.toLong, (core ++ Seq(s"u${i}_a", s"u${i}_b", s"u${i}_c")).mkString(" "))
    }
    // planted true pairs: 32 of 34 shared distinct tokens -> jacc ≈ 0.941
    val planted = Seq(
      (1000L, (core ++ Seq("p1", "p2", "p3")).mkString(" ")),
      (1001L, (core ++ Seq("p1", "p2", "p4")).mkString(" ")),
      (1002L, (core ++ Seq("q1", "q2", "q3")).mkString(" ")),
      (1003L, (core ++ Seq("q1", "q2", "q4")).mkString(" ")))
    val docs = (noise ++ planted).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = TextDedup.minhashNearDupsUnbounded(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got == Set((1000L, 1001L), (1002L, 1003L)))
    // generous ceiling: the point is "bounded", not a timing benchmark
    assert(secs < 90.0, s"hot-bucket mining took ${secs}s")
  }

  test("unbounded dedup clusters equal the mask-based clusters") {
    import org.apache.spark.sql.functions._
    val small = docs.filter(col("doc_id") < 150)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val masked = canon(TextDedup.nearDupClusters(small, 0.9).collect())
    val unbounded = canon(TextDedup.nearDupClustersUnbounded(small, 0.9).collect())
    assert(unbounded == masked)
  }

  test("incremental near-dup law: arrival-order batches union to the batch answer, disjointly") {
    // a 150-doc slice keeps the law's strength (it still contains dup
    // clusters) while keeping 4 full mining pipelines under a minute
    val docs = this.docs.filter(col("doc_id") < 150)
    val batchAll = TextDedup.minhashNearDups(docs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchAll.nonEmpty)
    // split the corpus into three arrival batches by doc_id ranges
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    val b1 = docs.filter(col("doc_id") <= cut1)
    val b2 = docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val b3 = docs.filter(col("doc_id") > cut2)
    val inc1 = TextDedup.minhashNearDupsIncremental(b1.limit(0), b1, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc2 = TextDedup.minhashNearDupsIncremental(b1, b2, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc3 = TextDedup.minhashNearDupsIncremental(b1.unionByName(b2), b3, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // each pair surfaces exactly once — when its later member arrives
    assert((inc1 & inc2).isEmpty && (inc1 & inc3).isEmpty && (inc2 & inc3).isEmpty)
    assert((inc1 | inc2 | inc3) == batchAll,
      s"sizes: inc=${inc1.size}+${inc2.size}+${inc3.size} batch=${batchAll.size}")
  }

  test("incremental dedup clusters: arrival-order folds equal batch clusters") {
    val docs = this.docs.filter(col("doc_id") < 150)
    val batch = TextDedup.nearDupClusters(docs, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    val b1 = docs.filter(col("doc_id") <= cut1)
    val b2 = docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val b3 = docs.filter(col("doc_id") > cut2)
    val l0 = b1.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
    val l1 = TextDedup.nearDupClustersIncremental(l0, b1.limit(0), b1, 0.9).localCheckpoint(true)
    val l2 = TextDedup.nearDupClustersIncremental(l1, b1, b2, 0.9).localCheckpoint(true)
    val l3 = TextDedup.nearDupClustersIncremental(l2, b1.unionByName(b2), b3, 0.9)
    val folded = l3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == batch,
      s"sizes: folded=${folded.size} batch=${batch.size}")
  }

  /** The spec's vocab > 63 corpus: every token suffixed with the doc's
    * lang — vocabulary × 5 (≈155 distinct tokens), past tokenMasks' 63-bit
    * bound, while within-lang Jaccard values are untouched (the suffix is
    * a bijection on tokens when langs are equal) and cross-lang pairs
    * drop to Jaccard 0. The mask family REFUSES on this corpus; the
    * unbounded family is the only path — exactly the production regime. */
  private def wideDocs = docs.select(col("doc_id"),
    array_join(transform(split(col("text"), " "),
      t => concat(t, lit("_"), col("lang"))), " ").as("text"))

  test("unbounded incremental miner at vocab > 63: arrival-order fold equals the batch answer") {
    val wide = wideDocs.filter(col("doc_id") < 150).localCheckpoint(true)
    // the mask twin refuses here — this corpus is past its 63-token bound
    val ex = intercept[Exception] {
      TextDedup.minhashNearDupsIncremental(wide.limit(0), wide, 0.9).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("|vocab| <= 63")))
    val batchAll = TextDedup.minhashNearDupsUnbounded(wide, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchAll.nonEmpty)
    val ids = wide.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    val b1 = wide.filter(col("doc_id") <= cut1)
    val b2 = wide.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val b3 = wide.filter(col("doc_id") > cut2)
    val inc1 = TextDedup.minhashNearDupsIncrementalUnbounded(b1.limit(0), b1, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc2 = TextDedup.minhashNearDupsIncrementalUnbounded(b1, b2, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc3 = TextDedup.minhashNearDupsIncrementalUnbounded(b1.unionByName(b2), b3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each pair surfaces exactly once — when its later member arrives
    assert((inc1 & inc2).isEmpty && (inc1 & inc3).isEmpty && (inc2 & inc3).isEmpty)
    assert((inc1 | inc2 | inc3) == batchAll,
      s"sizes: inc=${inc1.size}+${inc2.size}+${inc3.size} batch=${batchAll.size}")
  }

  test("unbounded incremental miner equals the mask twin where both apply") {
    val small = docs.filter(col("doc_id") < 150).localCheckpoint(true)
    val cut = 100L
    val existing = small.filter(col("doc_id") <= cut)
    val batch = small.filter(col("doc_id") > cut)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val masked = canon(
      TextDedup.minhashNearDupsIncremental(existing, batch, 0.9).collect())
    val unbounded = canon(
      TextDedup.minhashNearDupsIncrementalUnbounded(existing, batch, 0.9).collect())
    assert(unbounded == masked && masked.nonEmpty)
  }

  test("unbounded incremental clusters at vocab > 63: arrival-order folds equal batch clusters") {
    val wide = wideDocs.filter(col("doc_id") < 150).localCheckpoint(true)
    val batch = TextDedup.nearDupClustersUnbounded(wide, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    val ids = wide.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    val b1 = wide.filter(col("doc_id") <= cut1)
    val b2 = wide.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val b3 = wide.filter(col("doc_id") > cut2)
    val l0 = b1.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
    val l1 = TextDedup.nearDupClustersIncrementalUnbounded(l0, b1.limit(0), b1, 0.9)
      .localCheckpoint(true)
    val l2 = TextDedup.nearDupClustersIncrementalUnbounded(l1, b1, b2, 0.9)
      .localCheckpoint(true)
    val l3 = TextDedup.nearDupClustersIncrementalUnbounded(l2, b1.unionByName(b2), b3, 0.9)
    val folded = l3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == batch, s"sizes: folded=${folded.size} batch=${batch.size}")
  }

  test("dedup clusters: labels are component minima, chains converge") {
    import spark.implicits._
    // a 4-node chain (diameter 3, needs >1 propagation round), a triangle,
    // and an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    val got = TextDedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("nearDupClusters (collapse-first) equals components over the full pair set") {
    val direct = TextDedup.dedupClusters(TextDedup.jaccardPairs(docs, 0.9)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = TextDedup.nearDupClusters(docs, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == direct)
    assert(direct.nonEmpty)
  }

  test("simhash: banded pairs equal brute-force pairs (pigeonhole exactness)") {
    // NB: iterate a Seq, not a Map — a for-yield over a Map of tuples
    // collapses pairs by key and silently drops most of them
    val sig = TextDedup.simhashSignatures(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = (for {
      (a, sa) <- sig; (b, sb) <- sig if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val banded = TextDedup.simhashNearDups(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
  }
}
