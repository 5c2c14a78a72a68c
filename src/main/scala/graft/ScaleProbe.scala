package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Bench tooling: scale-trend measurement for the SIMILARITY family over a
  * [[ScaleData]]-derived corpus, with the cell count as an explicit
  * parameter — because the family's scale rule is k ∝ √N (the
  * [[Similarity.semanticDedup]] scaladoc: in-cell pair work is O(N) per
  * cell only when cells grow as √N). The scored queries pin k = 16 for
  * oracle determinism at test scale; this harness measures the SAME
  * operators at the production cell count so the trend table can show
  * both the fixed-k tax and the √N-rule recovery. Correctness queries
  * never read derived data; this is measurement only (ScaleData's
  * charter).
  *
  * Usage: ScaleProbe <sfDir> <numCentroids>
  * Prints one JSON line: {"sf":…,"k":…,"ops":{name:sec,…}} — each op
  * timed twice (fresh plan each time), min reported.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, kS) = args
    val k = kS.toInt
    val spark = Bench.session()

    val e = Tables.t(spark, dir, "embeddings")
    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body
      val s = (System.nanoTime() - t0) / 1e9
      dropCheckpoints(); s
    }
    def timed2(body: => Unit): Double = math.min(time(body), time(body))

    // training measured alone, then shared: attribution stays per-op.
    // The shared frame is pinned by collect-and-recreate (k rows — the
    // same bounded shape as every centroid broadcast) so dropCheckpoints
    // between ops can't invalidate it mid-battery.
    var cents: org.apache.spark.sql.DataFrame = null
    val tTrain = timed2 {
      val trained = Similarity.kmeansCentroids(e, k)
      cents = spark.createDataFrame(
        spark.sparkContext.parallelize(trained.collect().toSeq, 1),
        trained.schema)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_scaleprobe_").toFile
    val idx = new java.io.File(tmp, "idx").getAbsolutePath
    try {
      val results = Seq(
        "kmeans_train" -> tTrain,
        "ivf_probe" -> timed2 {
          Similarity.ivfTopKWith(e, cents, 5, col("vec_id") < 10).count()
        },
        "semdedup" -> timed2 {
          Similarity.semanticDedupWith(e, cents, 0.40).count()
        },
        "semdedup_multi" -> timed2 {
          Similarity.semanticDedupMultiWith(e, cents, 0.40).count()
        },
        "index_build" -> timed2 {
          graft.util.Fs.deleteTree(new java.io.File(idx))
          Similarity.buildIvfIndexWith(e.filter(col("vec_id") % 10 =!= 0), cents, idx)
        },
        "index_append" -> time {
          // single timing: a second append of the same batch would be the
          // keyed-DedupAppend no-op, not a comparable measurement
          Similarity.appendToIvfIndex(e.filter(col("vec_id") % 10 === 0), idx)
        })
      val js = results.map { case (n, v) => "\"" + n + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"sf":"$dir","k":$k,"ops":$js}""")
    } finally graft.util.Fs.deleteTree(tmp)
  }
}
