package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.streaming.Drain

/** Event-time queries over the `events` table (SURVEY.md §2.4 Q15–Q16 plus
  * the JSON-props battery). Batch formulations here are the scored,
  * DuckDB-checkable contract; `graft.streaming.EventStreams` re-expresses
  * Q15 as a Structured Streaming job with a watermark over the same logic.
  */
object EventTime {

  /** Q15 — tumbling 1-hour window aggregation, epoch-aligned in UTC (Spark's
    * `window()` and DuckDB's `time_bucket` agree on epoch alignment). */
  def q15TumblingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").cast("timestamp_ntz").as("window_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sumMoney2(col("value")).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val q15Sql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q23 — SLIDING 1-hour window (15-minute slide): each event lands in
    * exactly 4 overlapping windows. Spark's window(ts, size, slide) emits
    * them directly (epoch-aligned); the oracle reconstructs the same four
    * starts as time_bucket(15m) - k·15m, k ∈ 0..3. */
  def q23SlidingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").getField("start")
                 .cast("timestamp_ntz").as("window_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sumMoney2(col("value")).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val q23Sql: String =
    """SELECT window_start, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS window_start,
      |             event_type, value
      |      FROM events, unnest([0, 1, 2, 3]) AS u(k))
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q16 — batch sessionization: a session breaks after a 30-minute gap.
    * lag + cumulative-sum over a (user_id)-partitioned window; one shuffle
    * on user_id, then the per-user rollup reuses the same partitioning. */
  def q16Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q16Sql: String =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |    FROM events))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Q34 — Spark's BUILT-IN session_window (gap-based merging inside the
    * aggregation), cross-checked against the lag+cumsum formulation the
    * oracle uses (and Q16 scores): one row per session with start, end
    * (= last event + gap) and event count. Same single shuffle on user_id;
    * the built-in also works unchanged under Structured Streaming. */
  def q34SessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  val q34Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, event_id,
      |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL '30 minutes' AS session_end,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Q17 — semi-structured props: JSON path extraction + typed cast
    * (reference parity for schemaless JSON handling, SURVEY §2.1 S2). */
  def q17JsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
              get_json_object(col("props"), "$.k").cast(LongType).as("k"),
              col("event_type"))
      .filter(col("k") % 10 === 0)
      .orderBy(col("event_id"))

  val q17Sql: String =
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k, event_type
      |FROM events WHERE CAST(props->>'$.k' AS BIGINT) % 10 = 0
      |ORDER BY event_id""".stripMargin

  // ---- Q55: time-series gap fill with linear interpolation ---------------

  /** Hourly spine per event type (bounded by observed min/max hour) with
    * missing hours linearly interpolated between the neighboring observed
    * hours — the standard sensor/metrics densification ETL. All arithmetic
    * is exact integer cents and hour indexes, with every operand
    * non-negative so truncating and flooring division agree across
    * engines (the q49 rule): interp = (next·Δprev + prev·Δnext) div Δ.
    *
    * Scale shape: the aggregation is one partial+final shuffle; the spine
    * and window partitions are bounded by CALENDAR HOURS × types, not by
    * data volume — at 100 TB the per-type window holds ~10⁵ rows (a decade
    * of hours) regardless of corpus size, so the per-partition sort never
    * inherits the corpus (the x39 criterion). */
  private val HourMicros = 3600L * 1000000L

  def q55GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ag = t(spark, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy(col("event_type"), col("h"))
      .agg(expr("sum(cents) div count(1)").as("avg_cents"))
    val spine = ag.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsH = when(col("avg_cents").isNotNull, col("h"))
    spine.join(ag, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), col("avg_cents"),
        last(col("avg_cents"), ignoreNulls = true).over(wp).as("prev_c"),
        last(obsH, ignoreNulls = true).over(wp).as("prev_h"),
        first(col("avg_cents"), ignoreNulls = true).over(wn).as("next_c"),
        first(obsH, ignoreNulls = true).over(wn).as("next_h"))
      .select(col("event_type"), col("h").cast("timestamp_ntz").as("h"),
        when(col("avg_cents").isNotNull, col("avg_cents"))
          .otherwise(expr(
            s"""(next_c * (unix_micros(h) div $HourMicros - unix_micros(prev_h) div $HourMicros)
               | + prev_c * (unix_micros(next_h) div $HourMicros - unix_micros(h) div $HourMicros))
               | div (unix_micros(next_h) div $HourMicros - unix_micros(prev_h) div $HourMicros)"""
              .stripMargin))
          .as("cents"),
        col("avg_cents").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("h"))
  }

  val q55Sql: String =
    """WITH ag AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
      |    CAST(CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) // count(*) AS BIGINT) AS avg_cents
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM ag GROUP BY 1),
      |spine AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 hour)) AS h FROM bounds),
      |j AS (SELECT s.event_type, s.h, a.avg_cents
      |      FROM spine s LEFT JOIN ag a ON s.event_type = a.event_type AND s.h = a.h),
      |wd AS (SELECT event_type, h, avg_cents,
      |  last_value(avg_cents IGNORE NULLS) OVER wp AS prev_c,
      |  epoch_us(last_value(CASE WHEN avg_cents IS NOT NULL THEN h END IGNORE NULLS) OVER wp) // 3600000000 AS pi,
      |  first_value(avg_cents IGNORE NULLS) OVER wn AS next_c,
      |  epoch_us(first_value(CASE WHEN avg_cents IS NOT NULL THEN h END IGNORE NULLS) OVER wn) // 3600000000 AS ni,
      |  epoch_us(h) // 3600000000 AS hi
      |  FROM j
      |  WINDOW wp AS (PARTITION BY event_type ORDER BY h
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY event_type ORDER BY h
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, h,
      |  CAST(CASE WHEN avg_cents IS NOT NULL THEN avg_cents
      |       ELSE (next_c * (hi - pi) + prev_c * (ni - hi)) // (ni - pi) END AS BIGINT) AS cents,
      |  avg_cents IS NULL AS is_gap
      |FROM wd ORDER BY event_type, h""".stripMargin

  /** Q68 — running DISTINCT-user counts per event type and day. Spark (and
    * SQL generally) has no `count(DISTINCT …) OVER (ORDER BY …)`; the
    * engine spelling is first-seen reduction: `min(ts)` per (type, user) —
    * a map-side-combinable agg, NOT a per-user window sort — assigns each
    * user to the day they first appeared; a second hash agg counts debuts
    * per day; a cumulative sum over the AGGREGATED frame finishes. The
    * only window runs over |types| × |days| rows (rollup-sized, like
    * x39's offset pass), never the corpus — that boundedness is the whole
    * trick: every corpus-sized step is an associative aggregation. */
  def q68RunningDistinct(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .groupBy(col("event_type"),
        date_trunc("day", col("first_ts")).as("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .withColumn("day", col("day").cast("timestamp_ntz"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Q70 — the STREAMING gate, scored: q15's tumbling rollup produced by
    * an actual Structured Streaming query ([[graft.streaming.EventStreams
    * .tumblingMaintainStream]] — AvailableNow file stream, checkpoint,
    * foreachBatch partial-rollup merge into a maintained parquet table),
    * then read back from the maintained state. The oracle is q15's SQL
    * verbatim: the hash gate proves maintained-by-merge ≡ one-shot batch
    * aggregation — the reference's `schedule="@daily"` loop (reference
    * dags/etl.py:12) restated as incremental view maintenance under the
    * DuckDB gate instead of only the StreamingSpec laws. */
  def q70StreamTumbling(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q70_") { tmp =>
      val state = new java.io.File(tmp, "state").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      graft.streaming.EventStreams.tumblingMaintainStream(spark, dir, state, ckpt)
      val res = spark.read.parquet(state)
        .select(col("window_start"), col("event_type"), col("n"),
          col("sum_dec").cast(DoubleType).as("sum_value"))
      // materialize (hours × types rows) so the temp state/checkpoint tree
      // can be removed eagerly (q35's reasoning)
      graft.util.Materialize.sorted(res, col("window_start"), col("event_type"))
    }

  /** Maintained-state ≡ batch: the gate q15 already passes. */
  val q70Sql: String = q15Sql

  // ---- Q75: streaming write through the custom DSv2 sink, scored -------

  /** Q75 — the documents table streamed through the `graft-jsonl`
    * DataSource V2 STREAMING sink (per-epoch temp files, epoch commit log
    * → exactly-once publish; [[graft.sources.v2.JsonLinesSink]]) under
    * `Trigger.AvailableNow`, read back through its scan, and rolled up
    * per (lang, source). The oracle aggregates the parquet table
    * directly — any row lost, duplicated, or mangled by the streaming
    * commit path flips the hash. Complements q70/q74 (which gate the
    * foreachBatch maintenance algebras): this gates the connector-level
    * epoch protocol itself. */
  def q75StreamSink(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q75_") { tmp =>
      val out = new java.io.File(tmp, "docs_jsonl").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val schema = spark.read
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select("doc_id", "text", "lang", "source", "n_chars").schema
      Drain.sink(spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select("doc_id", "text", "lang", "source", "n_chars"),
        ckpt, "graft-jsonl", "append", "path" -> out)
      val res = spark.read.format("graft-jsonl").schema(schema).load(out)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      // materialize (langs × sources rows) so the temp tree drops eagerly
      graft.util.Materialize.sorted(res, col("lang"), col("source"))
    }

  val q75Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---- Q80: STREAM-STREAM join, scored -----------------------------------

  /** Q80 — the watermarked STREAM-STREAM self-join under the DuckDB gate:
    * `EventStreams.pairWithin` (events × events, same user, second event
    * within 10 minutes of the first, 1-hour watermarks bounding the join
    * state) run as an actual append-mode `writeStream` to parquet and
    * scored as the per-user pair rollup of what the sink received. The
    * other scored streams all gate foreachBatch MAINTENANCE algebras;
    * this gates the engine's symmetric-state join operator itself —
    * dropped, duplicated, or watermark-late-discarded pairs all flip the
    * hash (on a bounded input every pair must be emitted; StreamingSpec
    * asserts row-set equality with the static join, this adds the
    * cross-engine hash). */
  def q80StreamPairs(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q80_", Some(8)) { tmp =>
      val out = new java.io.File(tmp, "pairs").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      Drain.sink(graft.streaming.EventStreams
        .pairWithin(graft.streaming.EventStreams.readEvents(spark, dir)),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("sum_gap_us"))
      // one row per user: materialize so the temp sink/checkpoint can drop
      graft.util.Materialize.sorted(res, col("user_id"))
    }

  val q80Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT a.user_id,
      |        epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |      FROM e a JOIN e b ON b.user_id = a.user_id
      |        AND a.event_id != b.event_id
      |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes')
      |SELECT user_id, count(*) AS n_pairs, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- Q76: streaming as-of enrichment, scored ---------------------------

  /** Q76 — the as-of ENRICHMENT stream under the DuckDB gate: events land
    * as JSON lines, each micro-batch is enriched against the maintained
    * orders table (latest order at or before the event, q19's max-(ts,key)
    * tie-break) and appended through the idempotent event_id-keyed
    * DedupAppend ([[graft.streaming.EventStreams.asofEnrichStream]] — the
    * round-4 advice item's replay-safe sink). The scored frame is the
    * maintained OUTPUT TABLE itself, per-event — any event the stream
    * dropped, duplicated, or mis-enriched flips the hash. Fifth streaming
    * surface under the hard oracle (q70 partial-agg merge, q74 upsert,
    * q75 sink epochs, x79 shard deal, and now the enrich-append). */
  def q76StreamAsof(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q76_") { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val ordersPath = new java.io.File(tmp, "orders").getAbsolutePath
      val out = new java.io.File(tmp, "out").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      t(spark, dir, "orders").selectExpr("o_custkey AS user_id",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS ts_us", "o_orderkey")
        .write.parquet(ordersPath)
      t(spark, dir, "events")
        .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id")
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.asofEnrichStream(spark, landing, ordersPath, out, ckpt)
      val res = spark.read.parquet(out)
      // materialize (bounded by the landed event table, q57's output size)
      // so the temp orders/checkpoint tree can drop eagerly
      graft.util.Materialize.sorted(res, col("event_id"))
    }

  /** Per-event as-of in micros — q19's semantics on the stream's output
    * schema (events with no prior order are absent, as in q19's inner
    * form). */
  val q76Sql: String =
    """SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_ts AS asof_ts_us
      |FROM (
      |  SELECT e.event_id, e.user_id, o.o_orderkey,
      |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS o_ts,
      |    row_number() OVER (PARTITION BY e.event_id
      |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey
      |   AND epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
      |         <= epoch_us(CAST(e.ts AS TIMESTAMP)))
      |WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---- Q88: streaming session windows, scored ----------------------------

  /** Q88 — the built-in `session_window` operator run as an ACTUAL
    * append-mode stream and scored against q34's batch oracle: events
    * land in a temp dir together with one far-future FLUSH SENTINEL row
    * (user_id −1, max ts + 10 days — the standard drain pattern for a
    * finite replay: the final watermark must pass every real session's
    * end before append mode will emit it), stream through
    * [[graft.streaming.EventStreams.sessionAgg]] — the MERGING session
    * state machine, where two open partial sessions fuse when a
    * bridging event arrives — into a parquet sink, and the sink is
    * scored per session. q34 proved built-in ≡ manual lag+cumsum in
    * batch; this puts the streaming state machine itself (merge, emit,
    * expire) under the same DuckDB hash. */
  def q88StreamSession(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q88_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val out = new java.io.File(tmp, "sessions").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("user_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000))
          .as("ts"))
      ev.unionByName(sentinel).write.parquet(landing)
      val stream = spark.readStream.schema(ev.schema).parquet(landing)
      Drain.sink(graft.streaming.EventStreams.sessionAgg(stream),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .filter(col("user_id") >= 0) // the sentinel's own session is scaffolding
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
      // session-count-sized: materialize so the temp tree drops eagerly
      graft.util.Materialize.sorted(res, col("user_id"), col("session_start"))
    }

  /** Streamed sessions ≡ batch sessions: q34's oracle verbatim. */
  val q88Sql: String = q34Sql

  // ---- Q90: streaming sliding windows, scored ----------------------------

  /** Q90 — SLIDING windows (1 h / 15 min — every event lives in four
    * overlapping windows) as an actual append-mode stream, scored against
    * q23's batch oracle: q88's flush-sentinel drain (a far-future row
    * under a scaffolding event type) pushes the final watermark past
    * every real window's end so append mode emits them all. Overlapping
    * windows multiply OPEN STATE by size/slide (4× here) but not by
    * input volume — the watermark bound q23's docstring claims, now
    * hash-verified through the streaming path. */
  def q90StreamSliding(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q90_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val out = new java.io.File(tmp, "windows").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = spark.range(1).select(
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"),
        lit("__flush").as("event_type"), lit(0.0).as("value"))
      ev.unionByName(sentinel).write.parquet(landing)
      val stream = spark.readStream.schema(ev.schema).parquet(landing)
      Drain.sink(graft.streaming.EventStreams.slidingAgg(stream),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .filter(col("event_type") =!= "__flush")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
      // (hours×4 slides × types) rows: materialize so the temp tree drops
      graft.util.Materialize.sorted(res, col("window_start"), col("event_type"))
    }

  /** Streamed sliding windows ≡ batch: q23's oracle verbatim. */
  val q90Sql: String = q23Sql

  // ---- Q97: flatMapGroupsWithState sessionizer, scored ---------------------

  /** Q97 — the ARBITRARY-STATE streaming API under the oracle:
    * [[graft.streaming.EventStreams.sessionizeStatefulOn]] runs the
    * hand-written per-user session state machine
    * (`flatMapGroupsWithState` + EventTimeTimeout — the API a custom
    * stateful operator uses when neither windows nor dropDuplicates fit)
    * over the events stream plus ONE far-future sentinel PER USER. The
    * sentinel closes each user's final real session through the gap rule,
    * while every sentinel's own singleton session stays open past the
    * final watermark and is never emitted — so the CLOSED-session output
    * is exactly the batch sessionization, and the per-user rollup scores
    * against q16's oracle verbatim. Completes the streaming API set
    * under the hard gate: windowed aggs, session_window, stream-stream /
    * stream-static joins, dropDuplicatesWithinWatermark, foreachBatch
    * maintenance, and now (flat)MapGroupsWithState. */
  def q97StreamStateful(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q97_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("user_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinels = ev.select(col("user_id")).distinct()
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)))
      ev.unionByName(sentinels).write.parquet(landing)
      val stream = spark.readStream.schema(ev.schema).parquet(landing)
      val sessions = graft.streaming.EventStreams
        .sessionizeStatefulOn(spark, stream, "graft_q97_sessions")
      val res = sessions
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
      // one row per user: materialize so the temp landing drops eagerly
      graft.util.Materialize.sorted(res, col("user_id"))
    }

  /** Closed sessions ≡ batch sessionization: q16's oracle verbatim. */
  val q97Sql: String = q16Sql

  // ---- Q94: VARIANT semi-structured path, scored ---------------------------

  /** Q94 — the VARIANT type end-to-end: `parse_json` decodes the props
    * JSON string into Spark 4's binary variant encoding once, and typed
    * `variant_get` paths extract from it — the modern lakehouse
    * semi-structured column (shredded binary, no re-parse per path)
    * where q17's `get_json_object` is the string-backed classic. Two
    * paths off one parse: the numeric `$.k` aggregated per type, and
    * its parity bucketed — both reach the output as plain BIGINT, so
    * the variant stays internal to the projection (nothing
    * engine-specific crosses the hash gate). The oracle extracts the
    * same paths with DuckDB's JSON operators. */
  def q94Variant(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"), (col("k") % 2).as("k_parity"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"), col("k_parity"))

  val q94Sql: String =
    """SELECT event_type, CAST(k % 2 AS BIGINT) AS k_parity,
      |  count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
      |WHERE k IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- Q93: stream-static ANTI join, scored -------------------------------

  /** Q93 — the native STREAM-STATIC LEFT ANTI join under the oracle: the
    * events stream is filtered IN-FLIGHT against a static blocklist
    * (users holding an URGENT order — the in-stream form of a
    * decontamination/suppression list), inside the streaming plan itself
    * rather than a foreachBatch probe. Stream-static joins need no
    * watermark — the static side is a fixed build relation each
    * micro-batch (at scale: broadcast once per trigger, re-resolved on
    * refresh), and the anti join needs no state at all, so this operator
    * costs nothing to keep running forever. Completes the streaming join
    * family under the hard gate: stream-stream inner (q80), stream-static
    * as-of enrich (q76), and now the suppression/anti shape. */
  def q93StreamAnti(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q93_", Some(8)) { tmp =>
      val out = new java.io.File(tmp, "kept").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val block = t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("user_id")).distinct()
      Drain.sink(graft.streaming.EventStreams.readEvents(spark, dir)
        .join(block, Seq("user_id"), "left_anti"),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sumMoney2(col("value")).as("sum_value"))
      // one row per event type: materialize so the temp tree drops
      graft.util.Materialize.sorted(res, col("event_type"))
    }

  val q93Sql: String =
    """SELECT event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = e.user_id
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- Q83: streaming exactly-once dedup, scored -------------------------

  /** Q83 — STREAMING exact dedup under the DuckDB gate: the events file
    * stream is unioned with a second stream over the SAME file (every
    * event delivered exactly twice — the at-least-once redelivery a real
    * bus exhibits), then `dropDuplicatesWithinWatermark("event_id")`
    * ([[graft.streaming.EventStreams.dedupStream]]) restores
    * exactly-once with BOUNDED state, written append-mode to parquet and
    * scored as the per-type rollup of what the sink received. The oracle
    * aggregates the ORIGINAL single-delivery table — any duplicate that
    * survives, or any original the dedup wrongly drops, flips the hash.
    *
    * Why this stays exact even though state expires at the watermark: a
    * redelivered copy either (a) arrives while its key is still within
    * the watermark → dropped by the dedup state, or (b) arrives after
    * the watermark passed its event time → dropped as LATE DATA by the
    * same watermark. Either path removes it; only the first delivery
    * ever reaches the sink. That is the contract that lets a 100 TB
    * deployment expire key state (vs `dropDuplicates`' unbounded map)
    * whenever the redelivery horizon is inside the watermark.
    *
    * Completes the streaming battery's operator set: q70 gates windowed
    * aggregation, q74 stateful upsert, q80 the stream-stream join, q83
    * the streaming dedup operator — the unbounded-stream form of the
    * reference's `ON CONFLICT DO NOTHING` (reference dags/etl.py:74). */
  def q83StreamDedup(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q83_", Some(8)) { tmp =>
      val out = new java.io.File(tmp, "deduped").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val once = graft.streaming.EventStreams.readEvents(spark, dir)
      val twice = once.union(graft.streaming.EventStreams.readEvents(spark, dir))
      Drain.sink(graft.streaming.EventStreams.dedupStream(twice),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          sumMoney2(col("value")).as("sum_value"))
      // one row per event type: materialize so the temp sink/checkpoint
      // tree can drop eagerly
      graft.util.Materialize.sorted(res, col("event_type"))
    }

  /** Single-delivery rollup — n must equal n_ids (every duplicate gone). */
  val q83Sql: String =
    """SELECT event_type, count(*) AS n,
      |  count(DISTINCT event_id) AS n_ids,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val q68Sql: String =
    """WITH f AS (SELECT event_type, user_id,
      |             min(CAST(ts AS TIMESTAMP)) AS first_ts
      |           FROM events GROUP BY 1, 2),
      |d AS (SELECT event_type, date_trunc('day', first_ts) AS day,
      |        count(*) AS new_users
      |      FROM f GROUP BY 1, 2)
      |SELECT event_type, day, new_users,
      |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
      |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM d ORDER BY event_type, day""".stripMargin

  /** Q102 — STATE-STORE INTROSPECTION under the oracle: the operational
    * "what is my stream remembering?" query, scored. A dedup stream
    * (q83's operator) runs with a watermark delay far past the data's
    * span, so NO key is ever evicted and the checkpoint's state store
    * holds EXACTLY the distinct event ids — which makes the store's
    * contents deterministic and oracle-checkable. The `statestore` data
    * source then reads the raw checkpoint (the same surface an operator
    * uses in production to audit state size, hunt hot keys, or debug a
    * watermark that isn't advancing), the recovered keys join back to
    * the events table, and the per-type key census must hash-match
    * DuckDB's `count(DISTINCT event_id)` over the base table. At 100 TB
    * the state read scales with STATE (keys × partitions), not stream
    * history — the introspection stays cheap however long the stream has
    * run; the one requirement, as with q80/q83, is sizing
    * `spark.sql.shuffle.partitions` to the state volume because each
    * shuffle partition is its own store. */
  def q102StateInspect(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q102_",
      Some(graft.util.Confs.stateSizedPartitions(spark, s"$dir/events.parquet"))) { tmp =>
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      Drain.sink(graft.streaming.EventStreams
        .dedupStream(graft.streaming.EventStreams.readEvents(spark, dir),
          watermark = "3650 days"), // >> data span: nothing evicts, state is exact
        ckpt, "noop", "append")
      val stateKeys = spark.read.format("statestore").load(ckpt)
        .select(col("key.event_id").as("event_id"))
      val res = t(spark, dir, "events")
        .join(stateKeys, Seq("event_id"), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
      val rows = res.collectAsList()
      require(!rows.isEmpty, "q102: the state store must hold keys")
      spark.createDataFrame(rows, res.schema).orderBy(col("event_type"))
    }

  /** With no eviction the store holds every distinct id once — the key
    * census per type is the base table's distinct-id count. */
  val q102Sql: String =
    """SELECT event_type, count(DISTINCT event_id) AS n_keys
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q118 — STREAM-STREAM JOIN STATE introspection, scored (q102's
    * pattern widened to the join operator's two stores). The watermarked
    * self-join (q80's shape) runs with the delay pushed far past the
    * data's span, so NEITHER side ever evicts and each side's state
    * store holds exactly its full buffered input — deterministic, hence
    * oracle-checkable. The `statestore` source reads each side by
    * `joinSide`, and the per-user census of buffered rows on both sides
    * must equal the base table's per-user event count. This is the
    * operational "why is my join state growing?" query: at scale it
    * reads state (rate × window per side), never stream history, and is
    * exactly how an operator confirms which side's buffer a skewed user
    * is inflating. */
  def q118JoinState(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q118_",
      Some(graft.util.Confs.stateSizedPartitions(spark, s"$dir/events.parquet"))) { tmp =>
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      Drain.sink(graft.streaming.EventStreams
        .pairWithin(graft.streaming.EventStreams.readEvents(spark, dir),
          watermark = "3650 days"), // >> data span: nothing evicts, state is exact
        ckpt, "noop", "append")
      def census(side: String, as: String, userCol: String) =
        spark.read.format("statestore").option("joinSide", side).load(ckpt)
          .groupBy(col(s"value.$userCol").as("user_id"))
          .agg(count(lit(1)).as(as))
      val res = census("left", "n_left", "user_id")
        .join(census("right", "n_right", "b_user"), Seq("user_id"))
      val rows = res.collectAsList()
      require(!rows.isEmpty, "q118: the join state stores must hold rows")
      spark.createDataFrame(rows, res.schema).orderBy(col("user_id"))
    }

  /** No eviction → each side buffered every input row once. */
  val q118Sql: String =
    """SELECT user_id, count(*) AS n_left, count(*) AS n_right
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Q119 — SESSION-WINDOW STATE introspection, scored: the strongest
    * form of the q102 pattern, because with the watermark pushed past the
    * data's span the session store's MERGED OPEN SESSIONS are exactly the
    * batch sessionization answer — the state IS the result (append mode
    * emits nothing; gap-merging happens on update, not at emission). The
    * `statestore` source recovers (user, window, count) per open session
    * and must hash-match q34's batch oracle. Operationally this is the
    * "what sessions are currently open?" audit every sessionizing
    * pipeline wants, read from the checkpoint at state cost — and it
    * doubles as a law that incremental gap-merge state equals the
    * one-shot computation. */
  def q119SessionState(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q119_",
      Some(graft.util.Confs.stateSizedPartitions(spark, s"$dir/events.parquet"))) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("user_id"), col("ts"))
      ev.write.parquet(landing)
      val stream = spark.readStream.schema(ev.schema).parquet(landing)
      Drain.sink(graft.streaming.EventStreams
        .sessionAgg(stream, watermark = "3650 days"), // nothing closes: state = answer
        ckpt, "noop", "append")
      val res = spark.read.format("statestore").load(ckpt)
        .select(col("value.user_id").as("user_id"),
          col("value.session_window.start").cast("timestamp_ntz").as("session_start"),
          col("value.session_window.end").cast("timestamp_ntz").as("session_end"),
          col("value.count").as("n_events"))
      val rows = res.collectAsList()
      require(!rows.isEmpty, "q119: the session store must hold open sessions")
      spark.createDataFrame(rows, res.schema)
        .orderBy(col("user_id"), col("session_start"))
    }

  /** Open merged sessions ≡ batch sessions: q34's oracle verbatim. */
  val q119Sql: String = q34Sql

  /** Q123 — STATE INTROSPECTION UNDER REAL EVICTION, scored: q102's audit
    * with a watermark that GENUINELY evicts (q102/q118/q119 all use the
    * no-evict trick — delay past the data span — so eviction itself was
    * never scored). A keyed dedup stream runs over the events ingested as
    * two time-split files (one per micro-batch) with a 7-day delay
    * against the corpus's 30-day span: ~3/4 of the keys are evicted
    * mid-stream and by the closing no-data batch, whose final watermark
    * is max(ts) − 7 days. The recovered `statestore` keys are therefore
    * EXACTLY the watermark-retained suffix {ts ≥ max(ts) − 7d} —
    * independent of file batching or order, because every sub-cutoff key
    * is either evicted (its batch's watermark reached it) or dropped as
    * late (it arrived under a watermark above it), and both watermarks
    * are ≤ the final cutoff (semantics pinned by the StreamingSpec
    * eviction law, which asserts set equality in both directions). The
    * per-type census of recovered keys must hash-match DuckDB computing
    * the retained suffix from the base table. At 100 TB this is the
    * "is my watermark actually bounding state?" audit: the read costs
    * state (keys × partitions), never stream history, and the oracle
    * relation is what makes the audit's answer CHECKABLE rather than
    * trusted. */
  def q123EvictingState(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q123_",
      Some(graft.util.Confs.stateSizedPartitions(spark, s"$dir/events.parquet"))) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("event_id"), col("ts"))
        .localCheckpoint(true) // read by both landing writes + the census join
      val cutTs = lit("2024-01-21").cast(TimestampType)
      ev.filter(col("ts") < cutTs).coalesce(1).write.json(landing)
      ev.filter(col("ts") >= cutTs).coalesce(1).write.mode("append").json(landing)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType)))
      Drain.sink(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(landing)
        .withWatermark("ts", "7 days") // << data span: eviction is REAL
        .dropDuplicates("event_id", "ts"),
        ckpt, "noop", "append")
      val stateKeys = spark.read.format("statestore").load(ckpt)
        .select(col("key.event_id").as("event_id"))
      val res = t(spark, dir, "events")
        .join(stateKeys, Seq("event_id"), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"))
      val rows = res.collectAsList()
      require(!rows.isEmpty, "q123: the state store must hold retained keys")
      var retained = 0L
      rows.forEach(r => retained += r.getLong(1))
      require(retained < t(spark, dir, "events").count(),
        s"q123: the watermark must have evicted (state holds $retained keys)")
      spark.createDataFrame(rows, res.schema).orderBy(col("event_type"))
    }

  /** The watermark-retained suffix, per type: keys with ts within the
    * final watermark's delay of the stream's max event time. */
  val q123Sql: String =
    """SELECT e.event_type, count(*) AS n_keys
      |FROM events e
      |WHERE e.ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Q125 — SESSION STORE UNDER REAL EVICTION, scored: q119's audit with
    * a watermark that actually closes sessions (q119 used the no-evict
    * trick, so the store held EVERY session; here the 7-day delay against
    * the 30-day span emits-and-evicts ~3/4 of them mid-stream and at the
    * closing no-data batch). The recovered store holds exactly the OPEN
    * sessions — merged sessions whose end ≥ the final watermark
    * max(ts) − 7d. Determinism argument (the part q123 didn't cover:
    * merging state): the time-split files mean every batch-2 event sits
    * far above batch 2's working watermark (max(batch 1) − 7d), so no
    * event is ever dropped late and cross-batch gap-merging sees the
    * complete event set — the merged sessions ARE the batch
    * sessionization answer, and eviction then partitions them by the
    * final cutoff. The oracle computes q34's batch sessions and keeps
    * those ending in the last 7 days; the require gates pin that
    * eviction genuinely fired (open < total sessions). Operationally:
    * q119 audited "what is open?" on a stream that never closes anything;
    * this is the same audit on a stream that does — with the closed
    * complement emitted to the sink, state stays (rate × gap)-bounded
    * however long the stream runs, and the audit's answer is still
    * checkable against the base table. */
  def q125EvictingSessions(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q125_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val out = new java.io.File(tmp, "closed").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("user_id"), col("ts"))
        .localCheckpoint(true)
      // parquet landing, not JSON: the JSON writer is millisecond-precision
      // and the session ends must stay microsecond-exact vs the oracle
      val cutTs = lit("2024-01-21").cast(TimestampType)
      ev.filter(col("ts") < cutTs).coalesce(1).write.parquet(landing)
      ev.filter(col("ts") >= cutTs).coalesce(1).write.mode("append").parquet(landing)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      Drain.sink(graft.streaming.EventStreams
        .sessionAgg(stream, watermark = "7 days"), // << data span: sessions CLOSE
        ckpt, "parquet", "append", "path" -> out)
      val open = spark.read.format("statestore").load(ckpt)
        .select(col("value.user_id").as("user_id"),
          col("value.session_window.start").cast("timestamp_ntz").as("session_start"),
          col("value.session_window.end").cast("timestamp_ntz").as("session_end"),
          col("value.count").as("n_events"))
      val rows = open.collectAsList()
      require(!rows.isEmpty, "q125: the session store must hold open sessions")
      val closed = spark.read.parquet(out).count()
      require(closed > 0 && closed > rows.size(),
        s"q125: the watermark must have closed most sessions " +
          s"(closed=$closed, open=${rows.size()})")
      spark.createDataFrame(rows, open.schema)
        .orderBy(col("user_id"), col("session_start"))
    }

  /** Q126 — STREAM-STREAM JOIN STATE UNDER REAL EVICTION, scored: q118's
    * two-store census with a watermark that genuinely evicts, completing
    * the eviction-real introspection matrix (dedup q123, session q125,
    * join q126 — every no-evict gate now has an evicting twin). The
    * asymmetry is the interesting part: for the condition
    * b_ts ∈ [a_ts, a_ts + 10min] the final watermark wm = max(ts) − 7d
    * retains the LEFT buffer down to wm − 10min (an older left row can no
    * longer meet any future right row, whose event time is ≥ wm) but the
    * RIGHT buffer only down to wm — the join's window is literally
    * visible as 10 minutes of extra left state. Semantics pinned by the
    * StreamingSpec join-eviction law (set equality per side, both
    * directions, no ±1 ms adjustment); mid-stream determinism mirrors
    * q123 (anything dropped late or evicted early sits below the final
    * cutoffs whatever the file order). The per-user census of both
    * buffers must hash-match DuckDB computing the two retained suffixes
    * from the base table. Operationally: the "why is my join state
    * growing?" audit of q118 now runs on a stream where state is
    * watermark-BOUNDED — and the answer is still checkable. */
  def q126EvictingJoinState(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q126_",
      Some(graft.util.Confs.stateSizedPartitions(spark, s"$dir/events.parquet"))) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts")).localCheckpoint(true)
      // parquet landing (µs-exact), time-split so batch 2 sits far above
      // its working watermark — nothing drops late (the q125 argument)
      val cutTs = lit("2024-01-21").cast(TimestampType)
      ev.filter(col("ts") < cutTs).coalesce(1).write.parquet(landing)
      ev.filter(col("ts") >= cutTs).coalesce(1).write.mode("append").parquet(landing)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)
      Drain.sink(graft.streaming.EventStreams
        .pairWithin(stream, windowMinutes = 10, watermark = "7 days"), // evicts
        ckpt, "noop", "append")
      def census(side: String, as: String, userCol: String) =
        spark.read.format("statestore").option("joinSide", side).load(ckpt)
          .groupBy(col(s"value.$userCol").as("user_id"))
          .agg(count(lit(1)).as(as))
      // users(right) ⊆ users(left): the left cutoff is 10 minutes lower
      val res = census("left", "n_left", "user_id")
        .join(census("right", "n_right", "b_user"), Seq("user_id"), "left")
        .select(col("user_id"), col("n_left"),
          coalesce(col("n_right"), lit(0L)).as("n_right"))
      val rows = res.collectAsList()
      require(!rows.isEmpty, "q126: the join state stores must hold rows")
      var buffered = 0L
      rows.forEach(r => buffered += r.getLong(1))
      require(buffered < ev.count(),
        s"q126: the watermark must have evicted (left holds $buffered rows)")
      spark.createDataFrame(rows, res.schema).orderBy(col("user_id"))
    }

  /** Per-user retained suffixes: left down to wm − 10min, right to wm. */
  val q126Sql: String =
    """WITH mx AS (SELECT max(ts) AS m FROM events),
      |l AS (SELECT user_id, count(*) AS n_left FROM events, mx
      |      WHERE ts >= m - INTERVAL 7 DAY - INTERVAL 10 MINUTE GROUP BY user_id),
      |r AS (SELECT user_id, count(*) AS n_right FROM events, mx
      |      WHERE ts >= m - INTERVAL 7 DAY GROUP BY user_id)
      |SELECT l.user_id, l.n_left, coalesce(r.n_right, 0) AS n_right
      |FROM l LEFT JOIN r USING (user_id) ORDER BY user_id""".stripMargin

  /** The open suffix of q34's batch sessions: those ending within the
    * final watermark's delay of the stream's max event time. */
  val q125Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, event_id,
      |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |s AS (SELECT user_id, min(ts) AS session_start,
      |        max(ts) + INTERVAL '30 minutes' AS session_end,
      |        count(*) AS n_events
      |      FROM sess GROUP BY user_id, sid)
      |SELECT user_id, session_start, session_end, n_events FROM s
      |WHERE session_end >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
      |ORDER BY user_id, session_start""".stripMargin

  /** Q122 — STREAM-STREAM LEFT OUTER JOIN, scored: q80's inner pair
    * stream preserved-side — an event with no same-user follower within
    * 10 minutes must survive with a NULL pair, emitted only once both
    * watermarks prove no match can still arrive. A bounded replay leaves
    * the tail's outer rows pending (their no-match proof needs the
    * watermark to advance past them), so the landing carries q88's flush
    * sentinel — one far-future scaffolding event (its own user, joins
    * nothing) that drives the final watermark past every real event; the
    * sentinel's own rows are filtered out of the scored frame. The
    * per-user census of paired vs lonely events hash-matches DuckDB's
    * LEFT JOIN recompute. At 100 TB the state story is the inner join's
    * (rate × window per side); the outer form adds only the emission
    * delay — results trail by the watermark, the price of proving a
    * negative on an unbounded stream. */
  def q122StreamOuter(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q122_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val out = new java.io.File(tmp, "pairs").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"))
      ev.unionByName(sentinel).write.parquet(landing)
      val stream = spark.readStream
        .schema(spark.read.parquet(landing).schema).parquet(landing)
      Drain.sink(graft.streaming.EventStreams.pairWithinOuter(stream),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .filter(col("user_id") >= 0) // the sentinel's row is scaffolding
        .groupBy(col("user_id"))
        .agg(count(col("b_id")).as("n_paired"),
             sum(when(col("b_id").isNull, 1L).otherwise(0L)).as("n_lonely"),
             sum(col("gap_us")).as("sum_gap_us"))
      graft.util.Materialize.sorted(res, col("user_id"))
    }

  /** Q127 — STREAM-STREAM FULL OUTER JOIN, scored: completes the
    * stream-stream join matrix (inner q80, left q122, full q127). Both
    * null-extensions at once: a burst's LAST event survives left-lonely
    * (no follower within 10 minutes), its FIRST event right-lonely (it
    * follows no one) — each emitted only when the watermarks prove the
    * negative. Same flush-sentinel discipline as q122 (the no-match
    * proof for the tail needs the watermark past it); per-user census of
    * paired / left-lonely / right-lonely rows hash-matches DuckDB's FULL
    * JOIN recompute. At 100 TB: state = rate × window per side, the
    * full form only adds the both-sides emission delay. */
  def q127StreamFullOuter(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_q127_", Some(8)) { tmp =>
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val out = new java.io.File(tmp, "pairs").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"))
      ev.unionByName(sentinel).write.parquet(landing)
      val stream = spark.readStream
        .schema(spark.read.parquet(landing).schema).parquet(landing)
      Drain.sink(graft.streaming.EventStreams.pairWithinFull(stream),
        ckpt, "parquet", "append", "path" -> out)
      val res = spark.read.parquet(out)
        .filter(col("user_id") >= 0) // the sentinel's rows are scaffolding
        .groupBy(col("user_id"))
        .agg(sum(when(col("a_id").isNotNull && col("b_id").isNotNull, 1L)
               .otherwise(0L)).as("n_paired"),
             sum(when(col("a_id").isNotNull && col("b_id").isNull, 1L)
               .otherwise(0L)).as("n_lonely_left"),
             sum(when(col("a_id").isNull, 1L).otherwise(0L)).as("n_lonely_right"),
             sum(col("gap_us")).as("sum_gap_us"))
      graft.util.Materialize.sorted(res, col("user_id"))
    }

  /** FULL JOIN recompute: both unmatched sides carry one null row each. */
  val q127Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |        a.event_id AS a_id, b.event_id AS b_id,
      |        epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |      FROM e a FULL JOIN e b ON b.user_id = a.user_id
      |        AND a.event_id != b.event_id
      |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes')
      |SELECT user_id,
      |  CAST(sum(CASE WHEN a_id IS NOT NULL AND b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
      |  CAST(sum(CASE WHEN a_id IS NOT NULL AND b_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lonely_left,
      |  CAST(sum(CASE WHEN a_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lonely_right,
      |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  /** LEFT JOIN recompute: unmatched events carry one null row each. */
  val q122Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT a.user_id, b.event_id AS b_id,
      |        epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |      FROM e a LEFT JOIN e b ON b.user_id = a.user_id
      |        AND a.event_id != b.event_id
      |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes')
      |SELECT user_id, count(b_id) AS n_paired,
      |  CAST(sum(CASE WHEN b_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lonely,
      |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- Q136: cohort retention ---------------------------------------------

  /** Q136 — COHORT RETENTION, the product-analytics staple: users cohorted
    * by the week of their first event; for each (cohort, week-offset), how
    * many came back, as a count and as exact basis points of the cohort.
    *
    * Shape chosen for 100 TB, deliberately WINDOW-FREE: one distinct over
    * (user, week) — the only row-volume shuffle, keyed by user and
    * map-side combinable — then min-per-user (tiny), a user-keyed join,
    * and a group-count-bounded aggregation (cohorts × offsets rows). The
    * naive spelling (window over each user's full event history to find
    * the first event) sorts every event; this touches each event once and
    * reduces immediately to user-week granularity. Retention is emitted
    * in integer basis points (long `div`), not a floating ratio — exact
    * across engines and partitionings. */
  def q136RetentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val active = t(spark, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val first = active.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val ret = active.join(first, "user_id")
      .groupBy(col("cohort_wk"),
        (datediff(col("wk").cast(DateType), col("cohort_wk").cast(DateType))
          .cast(LongType) / 7L).cast(LongType).as("week_offset"))
      .agg(count(lit(1)).cast(LongType).as("n_active"))
      // consumed twice (retention rows + cohort sizes); without the
      // materialization the ENTIRE distinct→first→join→agg pipeline
      // plans twice (4 event scans, 20 Exchanges — plans/r10). Bounded:
      // cohorts × offsets rows at any scale (weeks², never data-sized).
      .localCheckpoint(true)
    val size = ret.filter(col("week_offset") === 0L)
      .select(col("cohort_wk"), col("n_active").as("cohort_size"))
    ret.join(size, "cohort_wk")
      .select(col("cohort_wk").cast("timestamp_ntz").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        expr("(n_active * 10000L) div cohort_size").as("retention_bp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** The same cohort algebra over the raw table. */
  val q136Sql: String =
    """WITH active AS (SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      |                FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM active GROUP BY user_id),
      |ret AS (SELECT cohort_wk,
      |          CAST(date_diff('day', CAST(cohort_wk AS DATE), CAST(wk AS DATE)) / 7
      |            AS BIGINT) AS week_offset,
      |          CAST(count(*) AS BIGINT) AS n_active
      |        FROM active JOIN f USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort_wk, n_active AS cohort_size FROM ret WHERE week_offset = 0)
      |SELECT r.cohort_wk AS cohort_week, r.week_offset, r.n_active, s.cohort_size,
      |  CAST((r.n_active * 10000) // s.cohort_size AS BIGINT) AS retention_bp
      |FROM ret r JOIN sz s ON r.cohort_wk = s.cohort_wk
      |ORDER BY cohort_week, week_offset""".stripMargin
}
