package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming restatement of the batch event-time queries
  * (SURVEY.md §2.2 streaming row; reference parity for `schedule="@daily",
  * catchup=False` — reference dags/etl.py:12-13 — via incremental
  * processing of a landing directory).
  *
  * The same aggregation logic as EventTime.q15TumblingAgg, expressed over
  * an unbounded source with a watermark bounding state. Late rows beyond
  * the watermark are dropped — the explicit late-data policy the reference
  * lacks entirely (its substitute is refetch-and-dedup).
  */
object EventStreams {

  /** Open the landing dir as a stream. A file stream needs a declared
    * schema, and `events.ts` has shipped both as int64-nanos and as plain
    * TIMESTAMP(MICROS) NTZ across testdata generations (see Tables.events) —
    * so sniff the physical schema from the existing footers once (driver-side
    * metadata read, no data scan) and normalize `ts` to a session-TZ
    * timestamp the same way the batch loader does. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical =
      try spark.read.option("pathGlobFilter", "events.parquet").parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // surface the operational cause instead of a bare
          // unable-to-infer-schema: the sniff needs at least one landed file
          throw new IllegalStateException(
            s"readEvents: no events.parquet file has landed in $dir yet — " +
              "the stream's schema is sniffed from existing footers, so land " +
              "one file first (or start the stream after the first delivery)", e)
      }
    val stream = spark.readStream.schema(physical)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    physical("ts").dataType match {
      case LongType => stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Tumbling 1-hour counts/sums with a 1-hour watermark. State is bounded:
    * with N event types, at most ~(watermark/window + 2) × N open windows
    * per trigger regardless of input volume. */
  def tumblingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // group by the window COLUMN itself (not its extracted start field):
      // the extracted field is a derived alias that loses the event-time
      // metadata, so watermark state eviction would never apply (unbounded
      // state) and append-mode emission would be rejected — same pitfall
      // [[slidingAgg]] documents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour/15-minute window counts/sums — the streaming twin of
    * EventTime.q23SlidingAgg. Each event updates 4 overlapping windows;
    * the watermark bounds open-window state exactly as in [[tumblingAgg]]
    * (sliding multiplies state by size/slide, still independent of input
    * volume). */
  def slidingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // group by the window COLUMN itself (not its extracted start field):
      // the unsupported-operations checker recognizes event-time semantics
      // — and so append-mode emission — only through the window column
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup on a key with bounded state:
    * dropDuplicatesWithinWatermark keeps one row per event_id and expires
    * key state once the watermark passes — the unbounded-stream form of
    * the reference's ON CONFLICT DO NOTHING (reference dags/etl.py:74),
    * where [[ingestFlares]] is the batch-per-file form. */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Built-in session windows under streaming: gap-merged per-user
    * sessions with a watermark. Session state is a genuinely MERGING
    * state machine (two open partial sessions fuse when a bridging event
    * arrives), unlike the fixed windows of [[tumblingAgg]]; append mode
    * emits a session only once the watermark passes its end, so state is
    * bounded by (rate × gap) per user, never by stream length. On a
    * bounded replay the tail sessions (those ending within the final
    * watermark's lag of the last event) stay open — a flush sentinel
    * with a far-future event time closes them (q88's scoring trick, and
    * the standard drain pattern for finite replays). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Watermarked STREAM-STREAM inner join: pairs every event with the same
    * user's events in the following `windowMinutes` (exclusive of itself).
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so each side's buffered state expires once the other side's
    * watermark passes — state stays proportional to rate × window, never
    * to stream length. The batch twin is the same join on the static frame
    * (asserted equal in StreamingSpec). */
  def pairWithin(events: DataFrame, windowMinutes: Int = 10,
                 watermark: String = "1 hour"): DataFrame = {
    val a = events.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = events.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
      col("user_id") === col("b_user") &&
        col("a_id") =!= col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        unix_micros(col("b_ts")).minus(unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** Watermarked stream-stream LEFT OUTER join: [[pairWithin]]'s
    * preserved-side twin — an event with NO same-user follower inside the
    * window survives with a null pair. The engine buffers the left row
    * until BOTH watermarks pass the point where a matching right row
    * could still arrive, then emits the null-extended row — so outer
    * results trail the data by the watermark delay, and a bounded replay
    * needs a flush sentinel (q88's drain trick) to close the final rows
    * out. State is rate × window per side, like the inner form. */
  def pairWithinOuter(events: DataFrame, windowMinutes: Int = 10,
                      watermark: String = "1 hour"): DataFrame = {
    val a = events.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = events.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
      col("user_id") === col("b_user") &&
        col("a_id") =!= col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select(col("user_id"), col("a_id"), col("b_id"),
        unix_micros(col("b_ts")).minus(unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** FULL-outer twin of [[pairWithinOuter]], completing the stream-stream
    * join matrix (inner q80, left q122, full q127): both null-extensions
    * at once — an event with no same-user follower within the window
    * survives with a NULL b side, and an event that is NO ONE's follower
    * (a burst's first event) survives with a NULL a side, each emitted
    * only once the watermarks prove the match can no longer arrive.
    * `user_id` is coalesced across sides so right-only rows keep their
    * key. State story is the inner join's (rate × window per side);
    * the full form pays the emission delay on both sides. */
  def pairWithinFull(events: DataFrame, windowMinutes: Int = 10,
                     watermark: String = "1 hour"): DataFrame = {
    val a = events.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = events.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
      col("user_id") === col("b_user") &&
        col("a_id") =!= col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      "full_outer")
      .select(coalesce(col("user_id"), col("b_user")).as("user_id"),
        col("a_id"), col("b_id"),
        unix_micros(col("b_ts")).minus(unix_micros(col("a_ts"))).as("gap_us"))
  }

  /** Drain the landing dir through the streaming agg into an in-memory
    * table and return the result — used by tests to prove batch/stream
    * equivalence. `complete` output mode so still-open windows are emitted
    * too (matching the batch answer on a bounded input). */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame =
    Drain.toMemory(tumblingAgg(readEvents(spark, dir)), "complete", queryName)

  /** Same, for the sliding-window twin. */
  def runOnceSliding(spark: SparkSession, dir: String, queryName: String): DataFrame =
    Drain.toMemory(slidingAgg(readEvents(spark, dir)), "complete", queryName)

  /** Incremental ingest of a JSON landing dir into a dedup-append parquet
    * table — the full reference-pipeline restatement under Structured
    * Streaming (`Trigger.AvailableNow` ≈ `schedule="@daily",
    * catchup=False`, reference dags/etl.py:12-13): each micro-batch runs
    * the same projection + idempotent conflict-skip as the batch path, so
    * re-delivered records never duplicate; exactly-once per input file via
    * the checkpoint. */
  def ingestFlares(spark: SparkSession, landingDir: String, tablePath: String,
                   checkpointDir: String): Unit = {
    val raw = spark.readStream.schema(graft.ingest.Donki.flrSchema)
      .json(landingDir)
    Drain.batches(raw, checkpointDir) { (batch, _) =>
      // owner = the checkpoint: this lineage's restart re-acquires its
      // own stale lease after a crash (the replay is conflict-skipped)
      graft.operators.DedupAppend.append(
        batch.sparkSession, graft.ingest.Donki.project(batch), tablePath,
        keys = Seq("flr_id"), tieBreak = Seq("class_type", "link"),
        owner = Some(checkpointDir))
    }
  }

  /** Streaming NEAR-DUP gate — the LSH analogue of [[ingestFlares]]: each
    * micro-batch of landed documents is mined against the already-ingested
    * corpus with the probe-restricted incremental miner
    * ([[graft.operators.TextDedup.minhashNearDupsIncremental]] — join work
    * ∝ the batch's band collisions, never the corpus's), then BOTH outputs
    * go through the idempotent [[graft.operators.DedupAppend]]: mined
    * pairs on (a_id, b_id), the batch itself on doc_id. A re-delivered or
    * replayed micro-batch therefore never duplicates pairs or documents,
    * and a crash between the two appends recovers cleanly (the anti-join
    * below keeps a replayed batch out of its own "existing" side, so
    * masks/signatures never double-count). Folding batches in arrival
    * order reproduces batch mining exactly — StreamingIngestSpec asserts
    * streamed ≡ [[graft.operators.TextDedup.minhashNearDups]].
    *
    * At scale the existing side's bands/signatures live in a bucket-keyed
    * store rather than being derived per batch (signatures are
    * deterministic — see the incremental miner's scaladoc); this is the
    * orchestration shape: AvailableNow + checkpoint = exactly-once per
    * landed file, idempotent sinks = at-least-once safe. */
  def mineNearDupsStream(spark: SparkSession, landingDir: String, corpusPath: String,
                         pairsPath: String, checkpointDir: String,
                         threshold: Double): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Drain.batches(spark.readStream.schema(docSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      // consumed by mining (probe + corpus union) and the corpus append
      val newDocs = batch.localCheckpoint(true)
      val existing =
        if (!graft.operators.DedupAppend.exists(s, corpusPath)) newDocs.limit(0)
        else s.read.parquet(corpusPath) // replay safety: exclude this batch's ids
          .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      val pairs = graft.operators.TextDedup
        .minhashNearDupsIncremental(existing, newDocs, threshold)
      graft.operators.DedupAppend.append(s, pairs, pairsPath,
        keys = Seq("a_id", "b_id"), tieBreak = Nil)
      graft.operators.DedupAppend.append(s, newDocs, corpusPath,
        keys = Seq("doc_id"), tieBreak = Nil)
    }
  }

  /** Streaming keyed ingest into a [[graft.operators.SnapshotStore]]
    * table — [[ingestFlares]]' exactly-once discipline on the snapshot
    * substrate. Each micro-batch is one ATOMIC versioned commit
    * (appendDedup: in-batch survivor per key, anti-join conflict skip,
    * then the fail-if-exists commit marker); a re-delivered batch — same
    * files replayed after a checkpoint loss or a crash between the sink
    * write and the checkpoint commit — produces NO new version at all,
    * not even an empty one, so the version history reads as the true
    * batch arrival history. The checkpoint location is the lease's owner
    * token: a crashed lineage's restart re-acquires its own stale lease
    * instead of wedging the table. Readers are never blocked: they
    * resolve the latest commit marker lock-free while the stream commits
    * the next version. This closes the gap [[ingestFlares]] documents —
    * plain-parquet append is not transactional; the snapshot commit IS. */
  def snapshotIngestStream(spark: SparkSession, landingDir: String,
                           tablePath: String, checkpointDir: String,
                           keys: Seq[String]): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Drain.batches(spark.readStream.schema(docSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val owner = Some(checkpointDir)
      if (graft.operators.SnapshotStore.versions(s, tablePath).isEmpty)
        graft.operators.SnapshotStore.create(s,
          graft.operators.DedupAppend.survivors(batch, keys, Nil),
          tablePath, owner = owner)
      else
        graft.operators.SnapshotStore.appendDedup(s, batch, tablePath,
          keys, tieBreak = Nil, owner = owner)
      ()
    }
  }

  /** SNAPSHOT CDC AS A STREAMING SOURCE — the subscription form of
    * [[graft.operators.SnapshotStore.changesBetween]]: q137/q138 POLL the
    * change feed; this SUBSCRIBES. The table's commit markers are
    * themselves the event log, so a checkpointed file stream over
    * `_snapshots/commit-*` delivers each committed version exactly once
    * per lineage — version-watermarked with no custom offset bookkeeping
    * (the file source's seen-files log is the offset). Each micro-batch
    * folds ONLY the manifest-diff deltas of its new versions into a
    * maintained per-lang (count, Σchars) aggregate — q138's IVM algebra —
    * and lands the result on the MV's OWN snapshot table in ONE atomic
    * commit that carries the `as_of_version` high-water mark in-row.
    * Exactly-once follows without a coordinator: a crash replay (or a
    * full redelivery from a fresh checkpoint) finds its versions at or
    * below the stored mark and no-ops at the version level — the same
    * discipline q134 proves for ingest, applied to a derived view.
    * Non-contiguous delivery refuses loudly (markers commit in strict
    * order, so a gap means a vacuumed-away version — the consumer must
    * re-bootstrap, not silently skip deltas). Groups folding to zero keep
    * an n_docs=0 row (merge cannot delete); readers filter. At 100 TB the
    * consumer pays churn-sized delta reads per version — never a table
    * re-scan — and the marker listing is metadata-sized. */
  def snapshotCdcStream(spark: SparkSession, tablePath: String,
                        mvPath: String, checkpointDir: String): Unit = {
    import graft.operators.SnapshotStore
    Drain.batches(spark.readStream.format("text")
      .load(s"$tablePath/_snapshots/commit-*")
      .select(col("_metadata.file_path").as("marker")), checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val owner = Some(checkpointDir)
      // marker names only: metadata-sized (one row per commit in batch)
      val vs = batch.collect().map { r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).getName
          .stripPrefix("commit-").toLong
      }.toSeq.distinct.sorted
      if (vs.nonEmpty) {
        val applied =
          if (SnapshotStore.versions(s, mvPath).isEmpty) 0L
          else SnapshotStore.read(s, mvPath)
            .agg(max(col("as_of_version"))).head.getLong(0)
        val todo = vs.filter(_ > applied)
        if (todo.nonEmpty) {
          require(todo == (todo.head to todo.max),
            s"snapshotCdcStream: non-contiguous versions $todo — a delta " +
              "was vacuumed away; re-bootstrap the consumer")
          require(applied > 0L || todo.head == 1L,
            s"snapshotCdcStream: first delivery must start at version 1, " +
              s"got ${todo.head}")
          // fold the WHOLE window in one aggregation: version deltas
          // are additive under the signed sum (Σ_v Σ_rows ≡ Σ_rows of
          // the unioned legs), so the per-version full_outer-join +
          // eager-localCheckpoint loop this replaces (one shuffle + one
          // materialization job per version) collapses to one union,
          // one aggregation, one join — identical rows by additivity.
          // Legs come from [[SnapshotStore.changeFeedLegs]]: a fresh
          // bootstrap (applied = 0) folds from version 1 — the v1 leg
          // IS the initial snapshot as inserts — so the pure-append
          // prefix coalesces to a single scan. [r11]
          val fromLeg = if (applied == 0L) 1L else todo.head
          val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
          val d = SnapshotStore.changeFeedLegs(s, tablePath, fromLeg, todo.max)
            .map(_.select(col("lang"), col("n_chars"), sign.as("sgn")))
            .reduce(_ unionByName _)
            .groupBy(col("lang"))
            .agg(sum(col("sgn")).as("d_n"),
              sum(col("sgn") * col("n_chars")).as("d_chars"))
          val mv: DataFrame =
            if (applied == 0L)
              d.select(col("lang"), col("d_n").as("n_docs"),
                col("d_chars").as("sum_chars"))
            else SnapshotStore.read(s, mvPath)
              .select(col("lang"), col("n_docs"), col("sum_chars"))
              .join(d, Seq("lang"), "full_outer")
              .select(col("lang"),
                (coalesce(col("n_docs"), lit(0L)) +
                  coalesce(col("d_n"), lit(0L))).as("n_docs"),
                (coalesce(col("sum_chars"), lit(0L)) +
                  coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
          val out = mv.withColumn("as_of_version", lit(todo.max))
          if (SnapshotStore.versions(s, mvPath).isEmpty)
            SnapshotStore.create(s, out, mvPath, owner = owner)
          else SnapshotStore.merge(s, out, mvPath,
            keys = Seq("lang"), tieBreak = Nil, owner = owner)
          ()
        }
      }
    }
  }

  /** Stream-snapshot enrichment: each micro-batch joins against the dim
    * table's CURRENT COMMITTED VERSION, re-resolved per batch through the
    * snapshot's lock-free reader — so a dimension correction (a
    * copy-on-write update landing mid-stream) is visible to the next
    * micro-batch with NO stream restart, while every batch still joins
    * one CONSISTENT point-in-time snapshot (never a half-updated
    * directory, the plain-parquet stream-static hazard). The enriched
    * rows land via the idempotent keyed append, so re-delivery never
    * duplicates. At 100 TB the dim read is the manifest-pruned relation;
    * a broadcast-sized dim broadcasts per batch as usual. */
  def enrichAgainstSnapshotStream(spark: SparkSession, landingDir: String,
                                  dimPath: String, outPath: String,
                                  checkpointDir: String): Unit = {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType)))
    Drain.batches(spark.readStream.schema(evSchema).json(landingDir), checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val dim = graft.operators.SnapshotStore.readRelation(s, dimPath)
      val enriched = batch.join(broadcast(dim), Seq("user_id"))
      graft.operators.DedupAppend.append(s, enriched, outPath,
        keys = Seq("event_id"), tieBreak = Nil, owner = Some(checkpointDir))
    }
  }

  /** The UNBOUNDED-VOCABULARY streamed near-dup mining service —
    * [[mineNearDupsStream]] at real vocabulary (that form's mask path
    * refuses past 63 distinct tokens), routed through the PERSISTED
    * [[graft.operators.LshIndex]]: each micro-batch folds into the stored
    * members/reps/band-buckets (leased, keyed-idempotent — a replayed
    * batch is a no-op) and then PROBES the index for its new-touching
    * pairs, which land in a DedupAppend-maintained pairs table. The
    * corpus's signatures and band keys are computed exactly once, at the
    * batch that introduced each distinct token set — per-batch work is
    * the batch's reps' signatures plus a bucket-pruned band read, never a
    * corpus recompute: the property that makes a CONTINUOUS dedup-mining
    * service viable at 100 TB. Folding batches in arrival order from an
    * empty index reproduces the one-shot batch miner
    * ([[graft.operators.TextDedup.minhashNearDupsUnbounded]]) exactly —
    * law in StreamingIngestSpec, scored at vocab > 63 as x96. The stream's
    * checkpoint location doubles as the index lease's owner token, so a
    * crashed lineage's restart self-heals. */
  def mineNearDupsStreamIndexed(spark: SparkSession, landingDir: String,
                                indexPath: String, pairsPath: String,
                                checkpointDir: String, threshold: Double): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Drain.batches(spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").json(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      // consumed by the index fold and the probe: materialize once
      val newDocs = batch.localCheckpoint(true)
      // first batch bootstraps the index; later (and replayed) batches
      // fold in idempotently — append-then-probe, so the probe always
      // sees an index that already contains its own batch
      if (!graft.operators.DedupAppend.exists(s, s"$indexPath/members"))
        graft.operators.LshIndex.build(newDocs, indexPath)
      else
        graft.operators.LshIndex.append(newDocs, indexPath,
          owner = Some(checkpointDir))
      val pairs = graft.operators.LshIndex.probe(s, indexPath, newDocs, threshold)
      graft.operators.DedupAppend.append(s, pairs, pairsPath,
        keys = Seq("a_id", "b_id"), tieBreak = Nil, owner = Some(checkpointDir))
    }
  }

  /** Continuous ANN-index maintenance: each landed parquet file of
    * embeddings folds into the persisted IVF index
    * ([[graft.operators.Similarity]]) — the first batch bootstraps
    * (trains centroids on itself, writes the cell layout), every later
    * (and replayed) batch assigns against the STORED centroids and
    * [[graft.operators.DedupAppend]]s into the cell directories, so the
    * maintained index is always probe-ready between triggers. This is
    * [[mineNearDupsStreamIndexed]]'s discipline applied to the vector
    * side: per-trigger work ∝ the batch (centroid broadcast + map-side
    * argmax), never the stored index; the checkpoint location doubles as
    * the lease owner token so a crashed lineage self-heals on restart.
    * No retraining on drift (the stated IVF production trade — rebuild
    * via buildIvfIndex when assignment quality decays). */
  def maintainIvfIndexStream(spark: SparkSession, landingDir: String,
                             indexPath: String, checkpointDir: String): Unit = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    Drain.batches(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      // consumed by seed-order scan + assignment (+ Lloyd iterations on
      // bootstrap): materialize once
      val vecs = batch.localCheckpoint(true)
      if (!graft.operators.DedupAppend.exists(s, s"$indexPath/cells"))
        graft.operators.Similarity.buildIvfIndexWith(vecs,
          graft.operators.Similarity.kmeansCentroids(vecs), indexPath)
      else
        graft.operators.Similarity.appendToIvfIndex(vecs, indexPath,
          owner = Some(checkpointDir))
    }
  }

  /** Streaming SEGMENT-DEDUP gate — [[mineNearDupsStream]]'s shape one
    * level down (span granularity): each micro-batch of landed documents
    * is judged against the already-ingested corpus with
    * [[graft.operators.Curation.segmentDedupIncremental]] (the batch's
    * distinct span hashes broadcast-probe the stored corpus — lookup work
    * ∝ the batch, history never re-segmented), then per-doc span stats
    * and the batch itself go through the idempotent
    * [[graft.operators.DedupAppend]] (stats on doc_id, corpus on doc_id) —
    * replay-safe the same way (the anti-join keeps a replayed batch out
    * of its own "existing" side). Folding doc_id-ordered batches
    * reproduces batch [[graft.operators.Curation.segmentDedup]] exactly
    * (CurationSpec law; streamed form asserted in StreamingIngestSpec). */
  def segmentGateStream(spark: SparkSession, landingDir: String, corpusPath: String,
                        statsPath: String, checkpointDir: String,
                        segTokens: Int): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Drain.batches(spark.readStream.schema(docSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val newDocs = batch.localCheckpoint(true)
      val existing =
        if (!graft.operators.DedupAppend.exists(s, corpusPath)) newDocs.limit(0)
        else s.read.parquet(corpusPath)
          .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      val stats = graft.operators.Curation
        .segmentDedupIncremental(existing, newDocs, segTokens)
      graft.operators.DedupAppend.append(s, stats, statsPath,
        keys = Seq("doc_id"), tieBreak = Nil)
      graft.operators.DedupAppend.append(s, newDocs, corpusPath,
        keys = Seq("doc_id"), tieBreak = Nil)
    }
  }

  /** The SCORED streaming gate (q70): AvailableNow ingest of the events
    * table → per-batch PARTIAL tumbling rollup → merge-by-re-aggregation
    * into a maintained parquet state table — q15's answer produced by an
    * actual `writeStream` with a checkpoint, never a full recompute.
    *
    * Per batch the only data-sized operation is the partial aggregate
    * (count + exact decimal sum — commutative monoids, so any batch
    * slicing folds to the batch answer; the decimal sum keeps the final
    * double cast bit-identical to the oracle's). The merge touches two
    * ROLLUP-sized frames (hours × types). Sums are not replay-idempotent,
    * so like [[rollupMaintainStream]] this leans on the checkpoint's
    * exactly-once-per-file guarantee — the documented asymmetry that
    * decides which gate goes where. */
  def tumblingMaintainStream(spark: SparkSession, dir: String,
                             statePath: String, checkpointDir: String): Unit = {
    Drain.batches(readEvents(spark, dir), checkpointDir) { (batch, batchId) =>
      val partial = batch
        .groupBy(window(col("ts"), "1 hour").getField("start")
            .cast(TimestampNTZType).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast(DecimalType(18, 2)))
               .cast(DecimalType(18, 2)).as("sum_dec"))
      mergeTumbling(batch.sparkSession, partial, statePath, batchId)
    }
  }

  /** Merge a partial tumbling rollup into the maintained table: sum of
    * counts, sum of exact decimal sums (both associative, so merged state
    * ≡ one-shot aggregation regardless of slicing). */
  private def mergeTumbling(spark: SparkSession, partial: DataFrame,
                            statePath: String, batchId: Long = -1L): Unit =
    graft.operators.StateMerge.mergeOverwrite(spark, partial, statePath, batchId)(
      _.groupBy(col("window_start"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_dec")).cast(DecimalType(18, 2)).as("sum_dec")))

  /** The second SCORED streaming gate (q74): the events table streamed
    * (AvailableNow + checkpoint) through per-batch latest-wins merges into
    * a one-row-per-key CDC state table ([[graft.operators.UpsertState
    * .merge]]) — q56's answer maintained as a stream instead of computed
    * by one batch aggregation. Latest-wins is a commutative idempotent
    * monoid, so ANY batch slicing — and any re-delivery — folds to the
    * batch compaction (the law StreamingIngestSpec asserts for the
    * landing-dir form); the hash gate against q56's oracle makes that
    * law a scored fact. */
  def cdcCompactStream(spark: SparkSession, dir: String,
                       statePath: String, checkpointDir: String): Unit = {
    Drain.batches(readEvents(spark, dir), checkpointDir) { (batch, _) =>
      val ch = batch.selectExpr("user_id", "event_type",
        "unix_micros(ts) as ts_us", "event_id",
        "cast(round(value * 100) as bigint) as cents")
      graft.operators.UpsertState.merge(batch.sparkSession, ch, statePath,
        keys = Seq("user_id"), version = Seq("ts_us", "event_id"))
    }
  }

  /** Streaming CDC-UPSERT gate — the latest-wins counterpart of
    * [[ingestFlares]] (which is insert-only): each micro-batch of landed
    * change records merges into a one-row-per-key state table via
    * [[graft.operators.UpsertState.merge]]. Because latest-wins
    * (`max_by(payload, version)`) is a commutative idempotent monoid, the
    * streamed fold equals one batch compaction of the whole change log
    * REGARDLESS of how the log was sliced into batches, and re-delivered
    * batches are no-ops — at-least-once delivery is safe without any
    * pairing of checkpoint and sink (StreamingIngestSpec law). Delete
    * tombstones ride along in the state; [[graft.operators.UpsertState
    * .current]] is the live view. */
  def cdcUpsertStream(spark: SparkSession, landingDir: String, statePath: String,
                      checkpointDir: String): Unit = {
    val changeSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts_us", LongType), StructField("event_id", LongType),
      StructField("cents", LongType)))
    Drain.batches(spark.readStream.schema(changeSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      graft.operators.UpsertState.merge(batch.sparkSession, batch,
        statePath, keys = Seq("user_id"), version = Seq("ts_us", "event_id"))
    }
  }

  /** Streaming ROLLUP-maintenance gate — materialized-view maintenance as
    * a stream: each micro-batch's partial rollup merges into the
    * maintained daily table via [[graft.operators.RollupState.merge]];
    * history is never recomputed. Unlike [[cdcUpsertStream]], sums are NOT
    * idempotent under re-delivery, so this gate leans on the checkpoint's
    * exactly-once-per-file guarantee (see RollupState's scaladoc for the
    * contrast — it decides which gate goes where in a pipeline).
    * StreamingIngestSpec asserts streamed slices ≡ the full recompute. */
  def rollupMaintainStream(spark: SparkSession, landingDir: String,
                           rollupPath: String, checkpointDir: String): Unit = {
    val changeSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("ts_us", LongType),
      StructField("cents", LongType)))
    Drain.batches(spark.readStream.schema(changeSchema).json(landingDir),
      checkpointDir) { (batch, batchId) =>
      graft.operators.RollupState.merge(batch.sparkSession,
        graft.operators.RollupState.partial(batch), rollupPath, batchId)
    }
  }

  /** Streaming SHARD-DEAL gate — continuous sharding for a training
    * corpus that keeps growing after the initial deal (x68's operator as
    * a maintained table): each micro-batch of landed documents is dealt
    * onto the shards by [[graft.operators.Curation.shardDealIncremental]]
    * (largest batch doc → lightest shard, loads derived from the STORED
    * assignment table so the state is the table itself) and appended via
    * the idempotent [[graft.operators.DedupAppend]] keyed on doc_id — a
    * replayed batch is anti-joined out of both its own "existing" side
    * and the append, so re-delivery never double-assigns or double-counts
    * loads. Laws in StreamingIngestSpec: one-batch fold from empty ≡
    * batch [[graft.operators.Curation.shardAssign]]; folds conserve docs
    * and bound per-shard count spread by the batch count. */
  def shardDealStream(spark: SparkSession, landingDir: String, assignPath: String,
                      checkpointDir: String, numShards: Int): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val assignSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_tok", LongType),
      StructField("shard", LongType)))
    Drain.batches(spark.readStream.schema(docSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val newDocs = batch.localCheckpoint(true)
      val existing =
        if (!graft.operators.DedupAppend.exists(s, assignPath))
          s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), assignSchema)
        else s.read.parquet(assignPath) // replay safety: exclude this batch's ids
          .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      val assigned = graft.operators.Curation
        .shardDealIncremental(existing, newDocs, numShards)
      graft.operators.DedupAppend.append(s, assigned, assignPath,
        keys = Seq("doc_id"), tieBreak = Nil)
    }
  }

  /** Event-time sessionization with explicit per-user state
    * (flatMapGroupsWithState + EventTimeTimeout): emits one row per CLOSED
    * session. A session closes two ways:
    *   1. the same user produces a later event with a >gap jump (in-batch
    *      close), or
    *   2. the GLOBAL event-time watermark advances past `last + gap` with
    *      no new events for the user — the state times out and the open
    *      session is emitted (so an idle user's session closes as long as
    *      the stream as a whole makes progress).
    * Sessions whose `last + gap` the final watermark never passes remain
    * open BY DESIGN — an unbounded stream has no "end", so the newest
    * sessions (within one gap of the watermark) are always still pending.
    * The scored batch twin is EventTime.q16Sessionize; this is the
    * unbounded-state form where per-user state is just (start, last, n). */
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  def sessionizeStateful(spark: SparkSession, dir: String, queryName: String,
                         gapMinutes: Int = 30): DataFrame =
    sessionizeStatefulOn(spark, readEvents(spark, dir), queryName, gapMinutes)

  /** Same, over a caller-built event stream (columns `user_id`, `ts`) —
    * q97 feeds a landing dir with per-user flush sentinels through this. */
  def sessionizeStatefulOn(spark: SparkSession, source: DataFrame,
                           queryName: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.functions._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    // keep the watermarked `ts` column in the projection — dropping it would
    // discard the watermark the event-time timeout needs
    val events = source
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]

    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // watermark passed last+gap with no new events: session is closed
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(user, s.start, s.last, s.n))
      } else {
        // rows within a micro-batch are not ordered: sort this user's slice
        val sorted = rows.map(_._3).toSeq.sorted
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { t =>
          cur match {
            case Some(s) if t - s.last <= gapUs =>
              // a cross-batch late row may precede the stored bounds: never
              // let it regress them (start/last are min/max of the session)
              cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
            case Some(s) =>
              closed ::= SessionOut(user, s.start, s.last, s.n)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // Spark rejects a timeout at-or-before the current watermark
          // (possible when this batch's rows were all late): clamp forward
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(s.last / 1000L + gapMs, wm + 1L))
        }
        closed.reverseIterator
      }
    }

    Drain.toMemory(events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF(), "append", queryName)
  }

  /** One micro-batch of as-of enrichment (q67's merge form over micro-µs
    * longs): each event row gets the latest order at-or-before its
    * timestamp. The history side is probe-restricted FIRST — a left-semi
    * join on the batch's users — so per-trigger join work is proportional
    * to the arriving users' order history, never the full orders table
    * (the same restriction x37's incremental mining applies). */
  private[graft] def asofEnrich(events: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = events.select(col("user_id")).distinct()
    val hist = orders.join(users, Seq("user_id"), "left_semi")
      .select(col("user_id"), col("ts_us"), lit(0).as("side"),
        lit(null).cast(LongType).as("event_id"),
        struct(col("ts_us").as("o_ts_us"), col("o_orderkey")).as("ord"))
    val ev = events.select(col("user_id"), col("ts_us"), lit(1).as("side"),
      col("event_id"),
      lit(null).cast("struct<o_ts_us:bigint,o_orderkey:bigint>").as("ord"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("side"), col("ord.o_orderkey").asc_nulls_last,
               col("event_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.unionByName(ev)
      .withColumn("best", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("best").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("best.o_orderkey").as("asof_orderkey"),
        col("best.o_ts_us").as("asof_ts_us"))
  }

  /** Streaming AS-OF enrichment gate — q67 as a stream: each event
    * micro-batch is enriched against the maintained orders table via
    * [[asofEnrich]] and appended to `outPath`.
    *
    * Law (StreamingIngestSpec): per-event enrichment depends only on the
    * event's own row and the order HISTORY — never on other events — so
    * with the orders table in place, ANY slicing of the event stream folds
    * to the batch answer. The one hazard is a LATE ORDER: an order
    * arriving after an event it should have enriched is a correction this
    * append-only sink cannot retract — such repairs belong in
    * [[cdcUpsertStream]]'s latest-wins state, not here (the same
    * append-vs-upsert split DedupAppend/UpsertState document).
    *
    * Re-delivery: foreachBatch is at-least-once (a batch retried after a
    * partial write but before checkpoint commit re-runs), so the sink must
    * be idempotent — enriched rows go through [[graft.operators
    * .DedupAppend]] keyed on event_id (each event enriches to exactly one
    * row, so first-writer-wins is a no-op on replay), not a blind append. */
  def asofEnrichStream(spark: SparkSession, landingDir: String,
                       ordersPath: String, outPath: String,
                       checkpointDir: String): Unit = {
    val eventSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("event_id", LongType)))
    Drain.batches(spark.readStream.schema(eventSchema).json(landingDir),
      checkpointDir) { (batch, _) =>
      val sp = batch.sparkSession
      graft.operators.DedupAppend.append(sp,
        asofEnrich(batch, sp.read.parquet(ordersPath)),
        outPath, keys = Seq("event_id"), tieBreak = Nil)
    }
  }
}
