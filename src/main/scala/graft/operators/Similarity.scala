package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search over `array<float>` columns.
  *
  * Determinism contract: a float dot-product summed in arbitrary order is
  * not reproducible across engines, so every per-element product is
  * floor-quantized to integer 1e-9 units and summed exactly
  * (order-independent); only the final cosine division happens in double
  * (single IEEE op — identical everywhere). This keeps results bit-stable
  * across Spark,
  * DuckDB, partitionings, and re-runs — worth the few extra cycles even at
  * scale, where nondeterministic top-k results poison incremental pipelines.
  *
  * Scale design: brute-force top-k is the correctness baseline (fine when
  * one side is a small probe set — it broadcasts); the SRP-LSH bucketed
  * variant is the 100 TB path: candidate generation becomes a shuffle on
  * bucket keys, cost linear in rows + within-bucket pairs. IVF with learned
  * centroids would slot into the same shape (bucket = nearest centroid).
  */
object Similarity {

  /** Dot product in exact integer units of 1e-9: each per-element product is
    * floor-quantized (pure IEEE ops — identical across engines, unlike a
    * decimal cast whose tie-rounding differs) and summed as exact Longs
    * (order-independent). |unit values| ≤ ~1e10 per element, ×64 elements
    * stays far inside Long range. */
  private def dotUnits(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> " +
      "cast(floor(cast(x as double) * cast(y as double) * 1e9) as bigint)), " +
      "cast(0 as bigint), (acc, v) -> acc + v)"

  /** Cosine similarity column, computed per the determinism contract; the
    * 1e9 scaling cancels between numerator and denominator. Uses the fused
    * codegen'd CosineUnits expression (register it on the session first);
    * arithmetic is identical to the composable dotUnits form. */
  def cosine(a: String, b: String): Column = {
    graft.functions.CosineUnits.register(org.apache.spark.sql.SparkSession.active)
    expr(s"cosine_units($a, $b)")
  }

  /** Cosine truncated to 1e-6 for hash-stable output/ranking. Truncation
    * (floor), not rounding: a decimal-cast round differs between engines on
    * shortest-repr ties (Spark rounds the string form, DuckDB the exact
    * binary value), while floor(x*1e6)/1e6 is pure IEEE arithmetic —
    * bit-identical everywhere. */
  def cosineR(a: String, b: String): Column =
    (floor(cosine(a, b) * 1e6).cast(DoubleType) / 1e6).cast(DoubleType)



  /** Brute-force top-k cosine neighbors of each probe row against the
    * corpus. Probe side is expected small → Spark broadcasts it, so the
    * corpus streams once with no shuffle before the per-probe top-k. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.functions.CosineUnits.register(probes.sparkSession)
    val p = probes.select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    c.join(broadcast(p), col("p_id") =!= col("n_id"))
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("cos_r"))
  }

  /** k-NN majority-vote labeling: each probe takes the majority label of
    * its k nearest corpus neighbors by cosine (ties: votes desc, label
    * asc — a total order, so the prediction is unique). The shape of
    * model-free quality/taxonomy tagging in curation pipelines: a small
    * labeled seed set classifies the corpus by neighborhood, the poor
    * man's fastText gate when no classifier is trainable in-pipeline.
    *
    * Returns (p_id, pred_label, n_votes) with both label and votes as
    * exact Longs. Determinism: the neighbor ranking inherits cosineR's
    * integer-unit contract plus an id tie-break, and the vote count is an
    * integer — every step is total-ordered, so the prediction is stable
    * across engines, partitionings, and re-runs.
    *
    * Scale shape: probes broadcast (bruteForceTopK's argument — the
    * labeled seed set is small by construction); the corpus streams once
    * with no pre-join exchange; after the per-probe top-k only k rows per
    * probe reach the vote aggregation. For corpus-scale probe sets, swap
    * the neighbor source for the banded/IVF candidate generators
    * ([[srpBandedNearDups]]/[[ivfTopK]]) — the vote stage is unchanged. */
  def knnClassify(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.functions.CosineUnits.register(probes.sparkSession)
    val p = probes.select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val c = corpus.select(col("vec_id").as("n_id"),
      col("label").cast(LongType).as("n_label"), col("embedding").as("nv"))
    val wn = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    val wv = Window.partitionBy(col("p_id")).orderBy(col("n_votes").desc, col("n_label").asc)
    c.join(broadcast(p), col("p_id") =!= col("n_id"))
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(wn))
      .filter(col("rn") <= k)
      .groupBy(col("p_id"), col("n_label")).agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("p_id"), col("n_label").as("pred_label"), col("n_votes"))
  }

  /** Hard-negative mining for contrastive training: each probe's top-k
    * most-similar corpus vectors whose label DIFFERS from the probe's —
    * the near-boundary examples a contrastive or reranker objective
    * learns most from (random negatives are trivially separable; the
    * informative ones are the high-cosine wrong-label neighbors this
    * returns). Returns (p_id, rn, n_id, n_label, cos_r) with rn the
    * 1-based hardness rank.
    *
    * Determinism: ranking is (cos_r desc, n_id asc) over cosineR's
    * integer-unit cosine — a total order, stable across engines.
    *
    * Scale shape: identical to [[bruteForceTopK]] — the probe set (an
    * anchor batch, small by construction) broadcasts, the corpus streams
    * once with no pre-join exchange, and the label-mismatch predicate
    * rides the broadcast join so same-class pairs never reach the
    * scoring expression. For corpus-scale anchor sets swap the candidate
    * generator for [[ivfTopK]]'s cell-pruned scan and keep the
    * label-filter + rank tail unchanged. */
  def hardNegatives(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.functions.CosineUnits.register(probes.sparkSession)
    val p = probes.select(col("vec_id").as("p_id"),
      col("label").cast(LongType).as("p_label"), col("embedding").as("pv"))
    val c = corpus.select(col("vec_id").as("n_id"),
      col("label").cast(LongType).as("n_label"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    c.join(broadcast(p), col("p_label") =!= col("n_label"))
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("n_label"), col("cos_r"))
  }

  /** Two-stage top-k over QUANTIZED codes: candidates ranked by cosine
    * against the corpus's int8 scalar quantization (Curation.quantizeInt8's
    * scheme — 4× smaller than float32, 8× smaller than the float64 join
    * width), then the top k·candidateFactor survivors re-ranked with the
    * exact cosine on the float originals. The asymmetric shape (full-
    * precision probe × quantized corpus) is the standard ADC layout: at
    * 100 TB the scan streams codes, and only ~k·factor rows per probe ever
    * touch full-precision vectors. candidateFactor buys recall headroom
    * against quantization noise (~1e-2 cosine error at int8).
    *
    * Recall is NOT guaranteed in general: a true top-k neighbor whose
    * quantized rank falls below k·candidateFactor is lost, and no factor
    * short of N closes that for an adversarial corpus (many neighbors
    * packed within the quantization error band). SimilaritySpec asserts
    * equality with the exact top-k ON THIS CORPUS at the default factor —
    * that is corpus-tested evidence, not a contract. Tune candidateFactor
    * to the corpus's cosine-gap statistics: it must exceed the number of
    * candidates within ~2·maxAbs/127·√dim cosine error of the true k-th
    * neighbor; raise it (or fall back to exact) when the top of the
    * similarity distribution is flat. */
  def bruteForceTopKQuantized(probes: DataFrame, corpus: DataFrame, k: Int,
                              candidateFactor: Int = 8): DataFrame = {
    graft.functions.CosineUnits.register(probes.sparkSession)
    val p = probes.select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val c = withQuantized(corpus.select(col("vec_id").as("n_id"), col("embedding").as("nv")))
    val wq = Window.partitionBy(col("p_id")).orderBy(col("cos_q").desc, col("n_id").asc)
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    c.join(broadcast(p), col("p_id") =!= col("n_id"))
      .withColumn("cos_q", cosineR("pv", "nq"))
      .withColumn("rq", row_number().over(wq))
      .filter(col("rq") <= k * candidateFactor)
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("cos_r"))
  }

  /** Adds `nq`: the int8-dequantized reconstruction of `nv` under
    * Curation.quantizeInt8's symmetric scheme (scale = max|x|/127, half-up
    * codes, multiply back). Candidate ranking runs against `nq`; the
    * production layout stores the codes themselves (array<tinyint> +
    * scale: dim + 8 bytes/vector vs 8·dim for the float64 join width) and
    * dequantizes in the scan — arithmetic identical either way. */
  private def withQuantized(c: DataFrame): DataFrame =
    c.withColumn("scale",
        expr("aggregate(cast(nv as array<double>), cast(0.0 as double), " +
          "(m, x) -> greatest(m, abs(x))) / 127.0"))
      .withColumn("nq", // scale = 0 (all-zero vector) short-circuits, as quantizeInt8 does
        expr("transform(cast(nv as array<double>), " +
          "x -> if(scale = 0.0d, 0.0d, floor(x / scale + 0.5d) * scale))"))
      .drop("scale")

  /** Embedding-cosine near-dup mining: all pairs (a<b) with truncated
    * cosine >= threshold — the EXACT baseline/verifier for semantic dedup.
    * The corpus side broadcasts (vectors are narrow); each worker streams
    * its slice against it with the fused codegen'd cosine, so there is no
    * shuffle at all — but the comparison count is N²/2.
    *
    * Scale path: at high thresholds, prefilter candidates with the SRP
    * band machinery below (same-bucket pairs only) and verify with this
    * exact cosine — same candidates-then-verify shape as
    * TextDedup.minhashNearDups. The exact form stays the oracle because
    * banded SRP recall is probabilistic, not pigeonhole-exact. */
  def cosineNearDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    val a = embeddings.select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = embeddings.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("cos_r", cosineR("av", "bv"))
      .filter(col("cos_r") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos_r"))
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  /** Number of IVF cells, Lloyd iterations, and probed cells per query. */
  val IvfCentroids = 16
  val IvfIters = 2
  val IvfNprobe = 2

  /** Nearest centroid per vector: max over (cosine, -c_id) — lexicographic
    * struct-max = highest cosine then lowest centroid id, map-side
    * combined; broadcast of the centroids, no shuffle on the corpus. */
  private[graft] def assignCells(embeddings: DataFrame, cents: DataFrame): DataFrame =
    embeddings.join(broadcast(cents))
      .withColumn("cos_c", cosineR("embedding", "cv"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_c"), (-col("c_id")).as("negc"))).as("best"))
      .select(col("vec_id"), (-col("best.negc")).cast(LongType).as("cell"))

  /** Deterministic spherical-ish k-means: seeds = the k lowest vec_ids,
    * then `iters` Lloyd steps — assign by truncated cosine (tie-break
    * lower centroid id), recompute each centroid as the element-wise mean
    * of its members. Means use the engine's exact integer units
    * (sum(floor(x·1e9)) / count / 1e9 — exact sum, then two IEEE divides
    * in a fixed order), so the learned centroids are bit-identical across
    * engines, partitionings, and re-runs; cells that lose every member
    * drop out. Each step is a centroid broadcast + one map-side-combined
    * agg + one (cell, dim)-keyed agg — no corpus shuffle, the same cost
    * shape at 100 TB. */
  def kmeansCentroids(embeddings: DataFrame, k: Int = IvfCentroids,
                      iters: Int = IvfIters): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    // the k LOWEST ids, not ids < k: with offset/sparse id spaces (an
    // id-offset append, a sharded scheme) the latter seeds fewer than k —
    // possibly zero, silently emptying every downstream IVF answer.
    // orderBy+limit plans as TakeOrdered: bounded by k, deterministic.
    var cents = embeddings.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    for (_ <- 0 until iters) {
      val cells = assignCells(embeddings, cents)
      val coords = embeddings.join(cells, "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      val means = coords.groupBy(col("cell"), col("i"))
        .agg((sum(expr("cast(floor(cast(x as double) * 1e9) as bigint)"))
          .cast(DoubleType) / count(lit(1)) / lit(1e9)).as("cx"))
      // tiny frame (k × dim rows): the interpreted transform lambda is fine
      cents = means.groupBy(col("cell"))
        .agg(expr("transform(sort_array(collect_list(struct(i, cx))), s -> s.cx)").as("cv"))
        .select(col("cell").as("c_id"), col("cv"))
        .localCheckpoint(true) // consumed by next assign + final probe ranking
    }
    cents
  }

  /** IVF ANN with learned centroids: assign every vector to its nearest
    * k-means centroid, then answer each probe's top-k by scanning only the
    * probe's `nprobe` nearest cells.
    *
    * This is the 100 TB similarity-search shape: the cell id is a
    * partition key, so a probe touches nprobe/numCentroids of the corpus —
    * partition pruning does the work, not a smarter kernel. Assignment is
    * a broadcast of the centroids + a map-side max(struct) — no shuffle;
    * the search broadcasts (probe, cell) fan-out rows into the cells. */
  def ivfTopK(embeddings: DataFrame, k: Int, numCentroids: Int = IvfCentroids,
              probePredicate: Column = col("vec_id") < 10,
              iters: Int = IvfIters, nprobe: Int = IvfNprobe): DataFrame =
    ivfTopKWith(embeddings, kmeansCentroids(embeddings, numCentroids, iters),
      k, probePredicate, nprobe)

  /** [[ivfTopK]] over PRE-TRAINED centroids (the x71 index's frame, or the
    * battery's shared training — kmeans is deterministic by the
    * integer-unit contract, so a stored/shared frame is bit-identical to
    * an inline training). */
  def ivfTopKWith(embeddings: DataFrame, cents: DataFrame, k: Int,
                  probePredicate: Column = col("vec_id") < 10,
                  nprobe: Int = IvfNprobe): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    val assigned = embeddings.join(assignCells(embeddings, cents), "vec_id")
    val probes = embeddings.filter(probePredicate)
      .select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val wp = Window.partitionBy(col("p_id")).orderBy(col("cos_c").desc, col("c_id").asc)
    val probeCells = probes.join(broadcast(cents))
      .withColumn("cos_c", cosineR("pv", "cv"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nprobe)
      .select(col("p_id"), col("pv"), col("c_id").as("cell"))
    val cand = assigned.select(col("cell"), col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cand.join(broadcast(probeCells), Seq("cell"))
      .filter(col("p_id") =!= col("n_id"))
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("cell"), col("cos_r"))
  }

  // ---- persisted IVF index --------------------------------------------

  /** Build the IVF index AT REST: the learned centroids (k rows) and the
    * cell-assigned corpus written as parquet, assignments PARTITIONED BY
    * cell — so a probe's scan prunes to its nprobe cell DIRECTORIES at
    * file listing (q35's layout argument applied to ANN; LayoutSpec
    * asserts the pruned plan). This is the production artifact: an ANN
    * index is built once and probed many times, so the cell shuffle is
    * paid at build, and every later probe batch reads
    * nprobe/numCentroids of the corpus regardless of its size. */
  def buildIvfIndex(embeddings: DataFrame, indexPath: String,
                    numCentroids: Int = IvfCentroids, iters: Int = IvfIters): Unit =
    buildIvfIndexWith(embeddings,
      kmeansCentroids(embeddings, numCentroids, iters), indexPath)

  /** [[buildIvfIndex]] from PRE-TRAINED centroids (see [[ivfTopKWith]] —
    * deterministic training makes the frames interchangeable). */
  def buildIvfIndexWith(embeddings: DataFrame, trained: DataFrame,
                        indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    graft.functions.CosineUnits.register(spark)
    trained.write.mode("overwrite").parquet(s"$indexPath/centroids")
    val cents = spark.read.parquet(s"$indexPath/centroids")
    embeddings.join(assignCells(embeddings, cents), "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexPath/cells")
  }

  // ---- index generations (leased retrain, atomic marker flip) ----------

  private def idxFs(spark: org.apache.spark.sql.SparkSession,
                    p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The index's committed GENERATION (0 = the flat layout
    * [[buildIvfIndex]] writes). A generation exists iff its
    * fail-if-exists `_gen-<k>` marker does — the SnapshotStore commit
    * discipline applied to the index, which is what makes a probe unable
    * to EVER see a half-swapped retrain: it resolves the newest marker
    * (metadata-only, lock-free) and reads only the immutable files under
    * that generation; nothing is renamed, so there is no window. */
  private[graft] def currentGen(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String): Long = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = idxFs(spark, root)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_gen-"))
      .flatMap(_.stripPrefix("_gen-").toLongOption)
      .foldLeft(0L)(math.max)
  }

  private def genDir(indexPath: String, k: Long): String =
    if (k == 0L) indexPath else s"$indexPath/gen-$k"

  /** The active generation's root — every index reader resolves through
    * this. */
  private[graft] def indexRoot(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String): String =
    genDir(indexPath, currentGen(spark, indexPath))

  /** LEASED, ATOMIC-SWAP RETRAIN — closing the drift alarm's loop
    * ([[assignmentDrift]]/x101 measure the drift; this acts on it):
    * retrain centroids from `corpus`, build the reassigned cell layout as
    * a NEW immutable generation directory, and publish it with ONE
    * fail-if-exists marker create. A concurrent probe never sees a
    * half-swapped index (law scored in x104): until the marker lands it
    * resolves the previous generation; after, the new one — no rename, no
    * window, old files untouched until retired. Replay-idempotent by
    * TOKEN: a crash-replayed retrain whose token already published
    * no-ops (x99's idempotence discipline applied to the retrain action).
    * Marker-less generation dirs (a crashed retrainer's garbage) are
    * reclaimed under the lease, and generations older than the previous
    * one retire — one is kept back for in-flight readers. Work: one
    * kmeans over `corpus` plus one cell-partitioned write — the rebuild
    * the alarm was already scheduling, now with a sound publication
    * protocol. Returns the published (or already-published) generation. */
  def retrainIvfIndex(corpus: DataFrame, indexPath: String, token: String,
                      numCentroids: Int = IvfCentroids, iters: Int = IvfIters,
                      owner: Option[String] = None): Long = {
    val spark = corpus.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = idxFs(spark, root)
    Lease.withLease(fs, root, "ivf retrain", owner) {
      val cur = currentGen(spark, indexPath)
      val curMarker = new org.apache.hadoop.fs.Path(root, s"_gen-$cur")
      if (cur > 0L && readSmallFile(fs, curMarker).trim == token) cur
      else {
        // crashed retrainers left marker-less generation dirs: reclaim
        // (safe — the lease serializes retrainers, so no one is building)
        fs.listStatus(root).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
          .filter(s => s.getPath.getName.stripPrefix("gen-").toLongOption
            .exists(g => !fs.exists(new org.apache.hadoop.fs.Path(root, s"_gen-$g"))))
          .foreach(s => fs.delete(s.getPath, true))
        val k = cur + 1
        buildIvfIndexWith(corpus,
          kmeansCentroids(corpus, numCentroids, iters), genDir(indexPath, k))
        val out = fs.create(new org.apache.hadoop.fs.Path(root, s"_gen-$k"), false)
        try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // retire everything older than the previous generation
        (0L to k - 2).foreach { g =>
          if (g == 0L) {
            fs.delete(new org.apache.hadoop.fs.Path(root, "centroids"), true)
            fs.delete(new org.apache.hadoop.fs.Path(root, "cells"), true)
          } else {
            fs.delete(new org.apache.hadoop.fs.Path(root, s"gen-$g"), true)
            fs.delete(new org.apache.hadoop.fs.Path(root, s"_gen-$g"), false)
          }
          ()
        }
        k
      }
    }
  }

  /** Incremental index maintenance: assign ONLY the new vectors against
    * the STORED centroids and [[DedupAppend]] them into the cell layout
    * (keyed on vec_id — a replayed batch is a no-op, the same idempotency
    * contract as every maintained table here). Routine drift is the
    * standard IVF production trade — assignment quality degrades as the
    * distribution shifts from the training sample; [[assignmentDrift]]
    * measures it and [[retrainIvfIndex]] acts on it. Folds take the index
    * lease (owner-aware), so an append can never land in a generation a
    * concurrent retrain is retiring. Work is proportional to the BATCH
    * (centroids broadcast + map-side argmax), never the stored index. */
  def appendToIvfIndex(newVectors: DataFrame, indexPath: String,
                       owner: Option[String] = None): Unit = {
    val spark = newVectors.sparkSession
    graft.functions.CosineUnits.register(spark)
    val rootP = new org.apache.hadoop.fs.Path(indexPath)
    Lease.withLease(idxFs(spark, rootP), rootP, "ivf index fold", owner) {
      val rootDir = indexRoot(spark, indexPath)
      val cents = spark.read.parquet(s"$rootDir/centroids")
      val assigned = newVectors.join(assignCells(newVectors, cents), "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell"))
      DedupAppend.append(spark, assigned, s"$rootDir/cells",
        keys = Seq("vec_id"), tieBreak = Nil, partitionCols = Seq("cell"),
        owner = owner)
    }
  }

  /** Per-cell assignment-drift audit of the stored IVF index: the
    * measurable signal behind [[appendToIvfIndex]]'s "rebuild when
    * assignment quality decays" contract. For each cell, the mean
    * assigned cosine (in exact 1e-6 integer units — deterministic across
    * engines and partitionings) of the STORED members vs an INCOMING
    * batch assigned against the stored centroids; `drift_u` =
    * stored_mean − new_mean, positive when the new batch sits farther
    * from the centroids than the corpus the index was trained on — the
    * distribution-shift alarm that schedules a [[buildIvfIndex]] retrain.
    *
    * Scale shape: two centroid broadcasts + two map-side-combinable
    * per-cell aggregations (stored side reads only (embedding, cell) —
    * the layout is never reassigned); nothing is pairwise. Cells absent
    * from one side carry nulls (a cell no new vector lands in, or — the
    * loudest drift of all — a cell the stored corpus never populated). */
  def assignmentDrift(newVectors: DataFrame, indexPath: String): DataFrame = {
    val spark = newVectors.sparkSession
    graft.functions.CosineUnits.register(spark)
    val idxDir = indexRoot(spark, indexPath)
    val cents = spark.read.parquet(s"$idxDir/centroids")
    def units(assigned: DataFrame): DataFrame =
      assigned.join(broadcast(cents), col("cell") === col("c_id"))
        .select(col("cell"),
          floor(cosine("embedding", "cv") * 1e6).cast(LongType).as("u"))
    def perCell(u: DataFrame, n: String, m: String): DataFrame =
      u.groupBy(col("cell")).agg(count(lit(1)).as(n),
        (sum(col("u")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as(m))
    val stored = spark.read.parquet(s"$idxDir/cells")
      .select(col("vec_id"), col("embedding"), col("cell").cast(LongType).as("cell"))
    val s = perCell(units(stored), "n_stored", "stored_mean_u")
    val incoming = newVectors.join(assignCells(newVectors, cents), "vec_id")
      .select(col("embedding"), col("cell"))
    val n = perCell(units(incoming), "n_new", "new_mean_u")
    s.join(n, Seq("cell"), "full_outer")
      .select(col("cell"), col("n_stored"), col("n_new"),
        col("stored_mean_u"), col("new_mean_u"),
        (col("stored_mean_u") - col("new_mean_u")).as("drift_u"))
  }

  /** TRUE iff the stored cell layout is exactly `embeddings` assigned
    * against the STORED centroids — the freshness check of the index
    * contract ([[LshIndex.verifyIndex]]'s discipline applied to ANN): a
    * corpus append that skipped [[appendToIvfIndex]], a partial write, or
    * a manual edit of the cell layout flips this. Assignment against the
    * stored centroids is deterministic (the integer-unit contract), so
    * the comparison is one assignment pass over the corpus plus a
    * map-combinable checksum per side — never a vector-by-vector join. */
  def verifyIvfIndex(embeddings: DataFrame, indexPath: String): Boolean = {
    val spark = embeddings.sparkSession
    graft.functions.CosineUnits.register(spark)
    val idxDir = indexRoot(spark, indexPath)
    val cents = spark.read.parquet(s"$idxDir/centroids")
    val cols = Seq("vec_id", "cell")
    graft.plans.ProjectionCatalog.fingerprint(
      assignCells(embeddings, cents), cols) ==
      graft.plans.ProjectionCatalog.fingerprint(
        spark.read.parquet(s"$idxDir/cells").select(cols.map(col): _*), cols)
  }

  /** [[ivfTopKFromIndex]] gated on [[verifyIvfIndex]]: a stale index is
    * DETECTED AND REFUSED instead of silently answering top-k over an
    * incomplete corpus. `corpus` is what the caller claims is indexed. */
  def ivfTopKFromIndexVerified(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                               corpus: DataFrame, probes: DataFrame, k: Int,
                               nprobe: Int = IvfNprobe): DataFrame = {
    require(verifyIvfIndex(corpus, indexPath),
      s"IVF index at $indexPath fingerprint mismatch vs the claimed corpus " +
        "(stale or tampered index) — refusing to answer")
    ivfTopKFromIndex(spark, indexPath, probes, k, nprobe)
  }

  /** Probe the STORED index: rank the stored centroids per probe, keep the
    * nprobe nearest, then scan ONLY those cells (a static IN filter on the
    * partition column — the probed cell set is bounded by numCentroids, so
    * the driver-side collect is constant-sized) and answer the exact
    * cosine top-k inside them. Equals a fresh [[ivfTopK]] build when the
    * index was built from the same corpus (kmeans is deterministic by the
    * integer-unit contract; SimilaritySpec law). */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       probes: DataFrame, k: Int, nprobe: Int = IvfNprobe): DataFrame = {
    graft.functions.CosineUnits.register(spark)
    val idxDir = indexRoot(spark, indexPath)
    val cents = spark.read.parquet(s"$idxDir/centroids")
    val p = probes.select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val wp = Window.partitionBy(col("p_id")).orderBy(col("cos_c").desc, col("c_id").asc)
    val probeCells = p.join(broadcast(cents))
      .withColumn("cos_c", cosineR("pv", "cv"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nprobe)
      .select(col("p_id"), col("pv"), col("c_id").as("cell"))
    // bounded by construction: ≤ numCentroids distinct probed cells
    val wanted = probeCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    val cand = spark.read.parquet(s"$idxDir/cells")
      .filter(col("cell").isin(wanted: _*)) // binds to the DIRECTORY key
      .select(col("cell").cast(LongType).as("cell"),
        col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cand.join(broadcast(probeCells), Seq("cell"))
      .filter(col("p_id") =!= col("n_id"))
      .withColumn("cos_r", cosineR("pv", "nv"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("cell"), col("cos_r"))
  }

  /** Semantic dedup (the SemDeDup policy): vectors are clustered by the
    * deterministic k-means of [[kmeansCentroids]], and WITHIN each cell a
    * vector is a duplicate if some lower-id cell-mate sits at cosine ≥
    * `threshold` — keep the min-id representative of every ε-ball, drop
    * the rest. This is dedup in EMBEDDING space: paraphrases, translations
    * and re-renderings that share no tokens (invisible to x17/x21/x29)
    * still collapse, which is exactly the redundancy-pruning step
    * ("SemDeDup", Abbas et al. 2023) LLM pipelines run after lexical
    * dedup.
    *
    * Returns one row per vector: (vec_id, cell, dup_of, kept) — dup_of is
    * the min lower-id in-cell neighbor above threshold, −1 when kept.
    *
    * Scale shape: clustering confines the quadratic pair search to cells —
    * the corpus shuffles ONCE on the cell id (assignment itself is a
    * centroid broadcast + map-side argmax, no shuffle), and with k ∝ √N
    * cells the in-cell pair work is O(N) per cell on average, the same
    * bucket-bounded mining shape as the LSH band joins. The in-join
    * threshold filter kills non-duplicate pairs before the min-agg, so the
    * only post-join exchange carries actual duplicates. Known limitation
    * (inherent to SemDeDup, documented not hidden): a duplicate pair
    * straddling a cell boundary is missed. Regime math, measured in
    * SimilaritySpec: TRUE near-duplicates (planted cos ≈ 0.999) quantize
    * into the same cell — recall 1.0, original kept, duplicate dropped —
    * while weakly-correlated pairs (the 0.40 tail) split freely across
    * cells (17/66 in-cell on the test corpus). The operating regime is
    * high-τ near-duplication; production pipelines wanting the weak tail
    * raise nprobe-style multi-assignment or accept the trade. */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
                    numCentroids: Int = IvfCentroids, iters: Int = IvfIters): DataFrame =
    semanticDedupWith(embeddings,
      kmeansCentroids(embeddings, numCentroids, iters), threshold)

  /** [[semanticDedup]] over pre-trained centroids (see [[ivfTopKWith]]). */
  def semanticDedupWith(embeddings: DataFrame, cents: DataFrame,
                        threshold: Double): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    // three consumers (both self-join sides + the final left join) — the
    // assignment pass (corpus × centroids argmax) and the cells join must
    // run once, not 3×, and the corpus parquet is scanned exactly once
    val e = embeddings.join(assignCells(embeddings, cents), "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val a = e.select(col("cell"), col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = e.select(col("cell"), col("vec_id").as("b_id"), col("embedding").as("bv"))
    val dups = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cos_r", cosineR("av", "bv"))
      .filter(col("cos_r") >= threshold)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    e.select(col("vec_id"), col("cell"))
      .join(dups, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Top-`rProbe` nearest centroids per vector — [[assignCells]]'s
    * multi-assignment generalization (rank by truncated cosine, tie-break
    * lower centroid id). Same scale shape: centroid broadcast, then one
    * map-side-combinable agg per vector whose state is bounded by the
    * CENTROID count (a ≤numCentroids struct list), never the corpus — no
    * window over the corpus×centroids fan-out, which would shuffle k×
    * the data. Returns (vec_id, rn ∈ 1..rProbe, cell). */
  private[graft] def assignCellsMulti(embeddings: DataFrame, cents: DataFrame,
                                      rProbe: Int): DataFrame =
    embeddings.join(broadcast(cents))
      .withColumn("cos_c", cosineR("embedding", "cv"))
      .groupBy(col("vec_id"))
      .agg(expr(s"slice(reverse(array_sort(collect_list(" +
        s"named_struct('cos_c', cos_c, 'negc', -c_id)))), 1, $rProbe)").as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("vec_id"), (col("i") + 1).cast(LongType).as("rn"),
        (-col("s.negc")).cast(LongType).as("cell"))

  /** Multi-probe SemDeDup: [[semanticDedup]] with each vector assigned to
    * its `rProbe` nearest cells for the PAIR SEARCH (the reported cell
    * stays the primary assignment). This closes SemDeDup's documented
    * blind spot — a duplicate pair straddling a cell boundary is found
    * whenever ANY of the two vectors' probe cells coincide, the same
    * recall lever real pipelines pull (multi-assignment / soft
    * clustering) instead of accepting the single-cell miss.
    *
    * Scale shape: assignment is [[assignCellsMulti]] (broadcast + bounded
    * agg, no corpus shuffle); the pair search shuffles rProbe× the
    * single-probe memberships into the same bucket-bounded in-cell join;
    * a pair sharing BOTH probe cells is deduplicated BEFORE the cosine
    * verify, so the verify chain runs once per distinct candidate pair
    * (x44's discipline). Output is row-compatible with [[semanticDedup]]:
    * (vec_id, cell, dup_of, kept), dup_of = min lower-id neighbor at
    * cosine ≥ threshold across any shared probe cell, −1 when kept. */
  def semanticDedupMultiWith(embeddings: DataFrame, cents: DataFrame,
                             threshold: Double, rProbe: Int = 2): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    // two consumers of the corpus (memberships + the pair-verify fetch):
    // materialize once, scan-fused assignment never reruns
    val e = embeddings.select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val multi = assignCellsMulti(e, cents, rProbe).localCheckpoint(true)
    val m = multi.select(col("cell"), col("vec_id"))
    val pairs = m.as("a").join(m.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct() // verify once per distinct candidate pair
    val dups = pairs
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("av")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("bv")), "b_id")
      .withColumn("cos_r", cosineR("av", "bv"))
      .filter(col("cos_r") >= threshold)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    multi.filter(col("rn") === 1).select(col("vec_id"), col("cell"))
      .join(dups, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Production ADC composition: [[ivfTopK]]'s cell-pruned scan ranking
    * candidates against int8-quantized codes, with exact float re-rank of
    * the top k·candidateFactor survivors — [[bruteForceTopKQuantized]]'s
    * two-stage shape folded into the IVF cell pruning. At 100 TB this is
    * the similarity-search layout you'd deploy: cell id prunes the corpus
    * to nprobe/numCentroids, the pruned scan streams CODES (dim + 8
    * bytes/vector instead of 8·dim for the float64 join width — 7.1× less
    * candidate bandwidth at dim 64), and only ~k·factor rows per probe
    * touch full-precision vectors.
    *
    * Recall caveats compose: IVF's (a true neighbor outside the probed
    * cells is lost — same as ivfTopK) and quantization's (see
    * [[bruteForceTopKQuantized]] — corpus-tested, not guaranteed).
    * SimilaritySpec asserts equality with ivfTopK at the default factor
    * on the test corpus. */
  def ivfTopKQuantized(embeddings: DataFrame, k: Int, numCentroids: Int = IvfCentroids,
                       probePredicate: Column = col("vec_id") < 10,
                       iters: Int = IvfIters, nprobe: Int = IvfNprobe,
                       candidateFactor: Int = 8): DataFrame =
    ivfTopKQuantizedWith(embeddings,
      kmeansCentroids(embeddings, numCentroids, iters), k, probePredicate,
      nprobe, candidateFactor)

  /** [[ivfTopKQuantized]] over pre-trained centroids (see [[ivfTopKWith]]). */
  def ivfTopKQuantizedWith(embeddings: DataFrame, cents: DataFrame, k: Int,
                           probePredicate: Column = col("vec_id") < 10,
                           nprobe: Int = IvfNprobe,
                           candidateFactor: Int = 8): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    val assigned = embeddings.join(assignCells(embeddings, cents), "vec_id")
    val probes = embeddings.filter(probePredicate)
      .select(col("vec_id").as("p_id"), col("embedding").as("pv"))
    val wp = Window.partitionBy(col("p_id")).orderBy(col("cos_c").desc, col("c_id").asc)
    val probeCells = probes.join(broadcast(cents))
      .withColumn("cos_c", cosineR("pv", "cv"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nprobe)
      .select(col("p_id"), col("pv"), col("c_id").as("cell"))
    val cand = withQuantized(
      assigned.select(col("cell"), col("vec_id").as("n_id"), col("embedding").as("nv")))
    val wq = Window.partitionBy(col("p_id")).orderBy(col("cos_q").desc, col("n_id").asc)
    val w = Window.partitionBy(col("p_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    cand.join(broadcast(probeCells), Seq("cell"))
      .filter(col("p_id") =!= col("n_id"))
      .withColumn("cos_q", cosineR("pv", "nq")) // ranked on codes
      .withColumn("rq", row_number().over(wq))
      .filter(col("rq") <= k * candidateFactor)
      .withColumn("cos_r", cosineR("pv", "nv")) // exact re-rank, floats touched here only
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("p_id"), col("rn"), col("n_id"), col("cell"), col("cos_r"))
  }

  // ---- SRP-LSH (signed random projections) ----------------------------

  /** Fixed integer hyperplanes (LCG seed 7, entries in [-4,4]), shared with
    * the oracle SQL via [[hyperplaneSqlArray]] so both engines bucket
    * identically. */
  val NumPlanes = 4
  val Dim = 64
  val hyperplanes: Array[Array[Long]] = {
    var state = 7L
    def next(): Long = { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state }
    Array.fill(NumPlanes)(Array.fill(Dim)(next() % 9 - 4))
  }

  def hyperplaneSqlArray(j: Int): String =
    hyperplanes(j).mkString("[", ",", "]") + "::DOUBLE[]"

  private def hyperplaneLit(j: Int): String =
    hyperplanes(j).map(v => s"${v}D").mkString("array(", ",", ")")

  /** Bucket id: sign bit per hyperplane dot product (exact unit sums →
    * engine-independent signs). */
  def bucketCol(vecExpr: String): Column = {
    val bits = (0 until NumPlanes).map { j =>
      s"if(${dotUnits(vecExpr, hyperplaneLit(j))} > 0, ${1L << j}L, 0L)"
    }
    expr(bits.mkString(" + "))
  }

  // ---- banded SRP cosine near-dup (scale path for cosineNearDups) ------

  /** Deterministic SRP hyperplane family: `n` planes of Dim integer
    * entries in [-4, 4] (LCG, caller-chosen seed) — reproducible
    * run-to-run and replicable in the oracle engine. */
  def srpPlanes(n: Int, seed: Long): Array[Array[Long]] = {
    var state = seed
    def next(): Long = { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state }
    Array.fill(n)(Array.fill(Dim)(next() % 9 - 4))
  }

  /** Scored-query banding: 8 bands × 6 planes (64 buckets per band). */
  val BandCount = 8
  val BandRows = 6
  val bandPlanes: Array[Array[Long]] = srpPlanes(BandCount * BandRows, 11L)

  def bandPlaneSqlArray(j: Int): String =
    bandPlanes(j).mkString("[", ",", "]") + "::DOUBLE[]"

  /** Banded-SRP cosine near-dup mining: candidate pairs share at least one
    * of `bands` SRP bucket keys (`rows` sign bits each); candidates are
    * then verified with the exact truncated cosine. Sound by construction
    * (output ⊆ [[cosineNearDups]] with identical cos_r values); recall is
    * the banding S-curve 1-(1-p^rows)^bands with p = 1 - θ/π.
    *
    * Scale shape: candidate generation is a shuffle on (band, key) — cost
    * linear in rows·bands plus within-bucket pairs — and only candidates
    * pay the 64-dim verify. The regime math decides the parameters:
    *   - production semantic dedup (threshold ≥ 0.9, p ≥ 0.86): 32×8
    *     banding gives recall ≥ 0.9999 while a random pair collides with
    *     prob 1-(1-2^-8)^32 ≈ 0.12 — candidates are ~12% of brute force
    *     (asserted: planted-neighbor recall 1.0 in SimilaritySpec);
    *   - this corpus's 0.40 tail (p ≈ 0.63, near-orthogonal noise): NO
    *     parameter choice yields recall ≈ 1 below brute-force cost —
    *     recall ~1 needs bands·p^rows ≳ 9, which forces random-pair
    *     collision ≈ 9·(0.5/0.63)^rows·N²/2 ≈ N²/2. The scored query
    *     therefore pins the 8×6 default (recall ≈ 0.41 at 0.40, verified
    *     work ≈ 12% of brute) and the ORACLE REPLICATES THE BANDING
    *     (x23's pattern), keeping the hash gate exact while the spec
    *     measures recall against [[cosineNearDups]].
    *
    * Plane dots use the explode + codegen-agg formulation (one hash agg
    * with bands·rows integer-unit sums) — a dotUnits lambda per plane
    * would evaluate interpreted, and integer units keep bucket signs
    * order-independent and engine-exact. At the 8×6 default the agg has
    * 49 output fields, under `spark.sql.codegen.maxFields` (100), so it
    * stays inside whole-stage codegen (PlanSpec guard); past that limit
    * an agg silently runs interpreted, and a row-local native expression
    * (the [[graft.functions.MinHashBands]] shape) is the way out. */
  def srpBandedNearDups(embeddings: DataFrame, threshold: Double,
                        bands: Int = BandCount, rows: Int = BandRows,
                        planes: Array[Array[Long]] = bandPlanes): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    require(planes.length >= bands * rows, "need bands*rows hyperplanes")
    val coords = embeddings.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
    val dotCols = (0 until bands * rows).map { j =>
      val arr = planes(j).map(v => s"${v}L").mkString("array(", ",", ")")
      sum(expr(s"cast(floor(cast(x as double) * element_at($arr, i + 1) * 1e9) as bigint)")).as(s"d$j")
    }
    val dots = coords.groupBy(col("vec_id")).agg(dotCols.head, dotCols.tail: _*)
    val keyCols = (0 until bands).map { b =>
      expr((0 until rows).map(j => s"if(d${b * rows + j} > 0, ${1L << j}L, 0L)").mkString(" + ")).as(s"k$b")
    }
    // both self-join sides read the band table: materialize once, or the
    // plane-dot aggregation upstream executes once per side
    val bandRows = dots.select(col("vec_id") +: keyCols: _*)
      .select(col("vec_id"),
        posexplode(array((0 until bands).map(b => col(s"k$b")): _*)).as(Seq("band", "key")))
      .localCheckpoint(true)
    // distinct BEFORE the verify: candidate multiplicity is ≤ bands and the
    // 64-dim cosine dwarfs the pair shuffle — the opposite tradeoff to
    // minhash LSH, whose 2-popcount verify is cheaper than a dedup shuffle
    val cand = bandRows.select(col("band"), col("key"), col("vec_id").as("a_id"))
      .join(bandRows.select(col("band"), col("key"), col("vec_id").as("b_id")), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("av")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("bv")), "b_id")
      .withColumn("cos_r", cosineR("av", "bv"))
      .filter(col("cos_r") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos_r"))
  }

  /** Approximate nearest neighbor per vector: top-1 cosine within the
    * vector's SRP bucket (vectors alone in their bucket are dropped). */
  def srpNearestNeighbor(embeddings: DataFrame): DataFrame = {
    graft.functions.CosineUnits.register(embeddings.sparkSession)
    val bucketed = embeddings
      .select(col("vec_id"), col("embedding"), bucketCol("embedding").as("bucket"))
    val l = bucketed.select(col("bucket"), col("vec_id"), col("embedding").as("v"))
    val r = bucketed.select(col("bucket"), col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_r").desc, col("n_id").asc)
    l.join(r, Seq("bucket")).filter(col("vec_id") =!= col("n_id"))
      .withColumn("cos_r", cosineR("v", "nv"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bucket"), col("n_id"), col("cos_r"))
  }
}
