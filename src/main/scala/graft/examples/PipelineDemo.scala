package graft.examples

import java.nio.file.Files

import graft.ingest.Donki
import graft.operators.DedupAppend
import graft.queries.Parity
import graft.sources.HttpJson
import graft.streaming.EventStreams

/** End-to-end usage example of the library's ingest + streaming surface —
  * the full reference-pipeline lifecycle (fetch-with-fallback → project →
  * dedup-append → query), then the Structured Streaming event path.
  * Run: tools/run.sh graft.examples.PipelineDemo /root/testdata/sf0.001
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session()

    // 1. ingest: live fetch (here: a fetch that fails → static fallback),
    //    project, idempotent append, query — the whole reference DAG.
    val flaky: () => String = () => throw new RuntimeException("API down")
    val (raw, live) = HttpJson.readWithFallback(
      spark, Donki.flrSchema, flaky, Parity.jsonBody(Parity.batchA),
      retries = 2, delayMs = 10L)
    println(s"[demo] fetch live=$live (fallback engaged=${!live})")
    val demoTmp = Files.createTempDirectory("graft_demo_")
    try {
      val table = demoTmp.toString + "/solar_flare_data"
      DedupAppend.append(spark, Donki.project(raw), table,
        keys = Seq("flr_id"), tieBreak = Seq("class_type", "link"))
      DedupAppend.append(spark, Donki.project(raw), table,
        keys = Seq("flr_id"), tieBreak = Seq("class_type", "link")) // re-run: no-op
      val flares = spark.read.parquet(table)
      println(s"[demo] solar_flare_data rows after double append: ${flares.count()}")
      flares.show(3, truncate = false)
    } finally graft.util.Fs.deleteTree(demoTmp.toFile)

    // 2. streaming: tumbling event-time agg with watermark over a landing dir
    val windows = EventStreams.runOnce(spark, sfDir, "demo_stream")
    println(s"[demo] streaming windows: ${windows.count()}")
    windows.orderBy("window_start", "event_type").show(5)

    // 3. curation: the training-data path — near-dup clusters → survivors →
    //    segment-level span dedup stats → quality gate → temperature
    //    rebalance → packed chunks, one declarative flow over `documents`.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.t(spark, sfDir, "documents")
    val clusters = graft.operators.TextDedup.nearDupClusters(docs, 0.9)
    val survivors = docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val spanStats = graft.operators.Curation.segmentDedup(survivors, 8)
    val gated = survivors.join(
      graft.operators.Curation.qualityScore(survivors).filter(col("score") >= 0.5)
        .select(col("doc_id")), "doc_id")
    val rebal = graft.operators.Curation.rebalanceByLang(gated, 8.0)
    val chunks = graft.operators.Curation.packChunks(gated, 256)
    val dupSpans = spanStats.agg(sum(col("n_dup_segs"))).first().getLong(0)
    val nSel = rebal.agg(sum(col("n_selected"))).first().getLong(0)
    println(s"[demo] curation: ${docs.count()} docs -> ${survivors.count()} dedup survivors" +
      s" ($dupSpans duplicated spans flagged) -> ${gated.count()} quality-gated" +
      s" (temperature rebalance would keep $nSel) -> ${chunks.count()} packed chunks" +
      s" (${chunks.agg(sum(col("n_tokens"))).first().getLong(0)} tokens)")

    // 3b. corpus audits: tokenizer-vocabulary coverage and the
    //     cross-source overlap matrix (the mixing-decision inputs)
    val oov = graft.operators.CorpusStats.vocabOov(gated, 32)
    val overlap = graft.operators.CorpusStats.sourceOverlap(docs, 3)
    println(s"[demo] audits: worst OOV rate ${oov.agg(max(col("oov_ppm"))).first().getLong(0)} ppm;" +
      s" ${overlap.count()} source pairs share 3-grams, max Jaccard " +
      s"${overlap.agg(max(col("jacc_ppm"))).first().getLong(0)} ppm")

    // 4. retrieval + semantic dedup over the embedding/3-gram surfaces
    val embs = graft.Tables.t(spark, sfDir, "embeddings")
    val sem = graft.operators.Similarity.semanticDedup(embs, 0.40)
    val hits = graft.operators.Curation.retrieveTopK(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0),
      k = 3, maxDfFrac = 0.2)
    println(s"[demo] semantic dedup keeps ${sem.filter(col("kept")).count()}" +
      s"/${sem.count()} vectors; retrieval returned ${hits.count()} hits" +
      s" for ${hits.select(col("q_id")).distinct().count()} probes")

    // 5. shipping: deal the gated corpus onto balanced training shards
    //    (hierarchical global rank — the step after packing), and run the
    //    table-maintenance loop (dedup-append micro-batches + self-
    //    triggered compaction) the ingest side needs long-term.
    val shards = graft.operators.Curation.shardAssign(gated, 8)
    val skew = shards.agg(
      (max(col("total_tokens")) - min(col("total_tokens"))).as("d")).first().getLong(0)
    val demoTmpM = Files.createTempDirectory("graft_demo_m_")
    val fileCounts =
      try (0 until 4).map { i =>
        graft.operators.Maintenance.appendCycle(spark,
          docs.filter(pmod(col("doc_id"), lit(4)) === i), demoTmpM.toString + "/docs",
          keys = Seq("doc_id"), tieBreak = Nil,
          maxFiles = 6, targetFileBytes = 64L * 1024 * 1024)
      } finally graft.util.Fs.deleteTree(demoTmpM.toFile)
    println(s"[demo] sharding: 8 shards, max-min token spread $skew;" +
      s" maintenance cycles ended at file counts ${fileCounts.mkString(",")}")

    spark.stop()
  }
}
