package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** Change-data-capture, timeline, and user-journey queries over the
  * `events` table, treating it as a keyed change log (key = user_id,
  * version = (ts, event_id), op = event_type with 'error' as the delete
  * tombstone). These are the warehouse-maintenance shapes the reference's
  * idempotent-append ETL (dags/etl.py:70-89) grows into at scale: CDC
  * latest-wins compaction, SCD2 validity intervals, interval concurrency,
  * exact medians, and funnel attribution.
  *
  * Cross-engine determinism: event timestamps are compared ONLY after the
  * ns→µs truncation both engines apply (`Tables.events` / DuckDB
  * `CAST(ts AS TIMESTAMP)`), and every ordering carries the unique
  * event_id tiebreak.
  */
object ChangeData {

  private def changes(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("user_id"), col("event_type"), col("ts"), col("event_id"),
      round(col("value") * 100).cast(LongType).as("cents"))

  // ---- Q56: CDC latest-wins merge ---------------------------------------

  /** Compact a change log to current state: one row per key carrying the
    * LATEST change's payload, with keys whose latest op is the delete
    * tombstone dropped — the MERGE INTO / CDC-compaction core.
    *
    * Scale shape: latest-wins is expressed as `max_by(payload, version)` —
    * a commutative, associative aggregate that combines MAP-SIDE and needs
    * exactly one shuffle on the key, instead of the window-sort
    * (`row_number() ... rn=1`) formulation whose per-key sort buffers the
    * whole partition. At 100 TB with a hot key (a bot user), partial
    * aggregation collapses each map task's copies to one row before the
    * exchange; the window form would ship them all. */
  def q56CdcMerge(spark: SparkSession, dir: String): DataFrame =
    changes(spark, dir)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_type").as("t"), col("cents").as("c")),
        struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.t") =!= "error")
      .select(col("user_id"), col("last.t").as("last_type"),
        col("last.c").as("last_cents"))
      .orderBy(col("user_id"))

  /** The oracle uses the window formulation — same answer, the form the
    * engine deliberately avoids (see scaladoc). */
  val q56Sql: String =
    """SELECT user_id, event_type AS last_type,
      |  CAST(round(value*100) AS BIGINT) AS last_cents
      |FROM (SELECT user_id, event_type, value,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** Q74 — q56's CDC compaction as a SCORED STREAM: the change log is
    * streamed through [[graft.streaming.EventStreams.cdcCompactStream]]
    * (AvailableNow + checkpoint + per-batch latest-wins merges into a
    * one-row-per-key state table) and the final state read back; the
    * oracle is q56's SQL verbatim. q70 put a partial-AGGREGATION merge
    * under the gate; this puts the STATEFUL latest-wins upsert there —
    * the two maintenance algebras a 100 TB pipeline composes (and whose
    * replay guarantees differ: sums need the checkpoint, latest-wins is
    * idempotent on its own — UpsertState's documented asymmetry). */
  def q74StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q74_").toFile
    try {
      val state = new java.io.File(tmp, "state").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      graft.streaming.EventStreams.cdcCompactStream(spark, dir, state, ckpt)
      val res = graft.operators.UpsertState
        .current(spark.read.parquet(state), "event_type", "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("cents").as("last_cents"))
      // one row per user: materialize so the temp state/checkpoint can drop
      graft.util.Materialize.sorted(res, col("user_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Maintained state ≡ batch compaction: the gate q56 already passes. */
  val q74Sql: String = q56Sql

  /** Q98 — the JSON-landing-dir CDC upsert service under the oracle:
    * change records land as JSON lines,
    * [[graft.streaming.EventStreams.cdcUpsertStream]] folds each
    * micro-batch through the latest-wins
    * [[graft.operators.UpsertState]] merge (idempotent on its own —
    * re-delivery is a no-op, the asymmetry vs q96's sums documented at
    * the operator), and the maintained state scores against q56's
    * oracle. q74 gates the same algebra fed by a parquet file stream;
    * this gates the landing-dir service shape — with q96 it completes
    * BOTH maintenance algebras in both ingest forms. */
  def q98StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q98_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val state = new java.io.File(tmp, "state").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      changes(spark, dir)
        .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us",
          "event_id", "cents")
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.cdcUpsertStream(spark, landing, state, ckpt)
      val res = graft.operators.UpsertState
        .current(spark.read.parquet(state), "event_type", "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("cents").as("last_cents"))
      // one row per user: materialize so the temp tree drops eagerly
      graft.util.Materialize.sorted(res, col("user_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Maintained state ≡ batch compaction: q56's oracle verbatim. */
  val q98Sql: String = q56Sql

  // ---- Q57: SCD2 validity intervals --------------------------------------

  /** Slowly-changing-dimension type 2: every change becomes a versioned row
    * with [valid_from, valid_to) bounds — valid_to is the NEXT change's
    * timestamp, null (open) for the current version.
    *
    * Scale shape: one window per key ordered by version; partition size is
    * the per-key change count (bounded by user activity, not corpus size),
    * so the sort never inherits the table. */
  def q57Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes(spark, dir)
      .select(col("user_id"), col("event_id").as("change_id"),
        col("event_type"), col("cents"),
        col("ts").cast("timestamp_ntz").as("valid_from"),
        lead(col("ts"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("valid_from"), col("change_id"))
  }

  val q57Sql: String =
    """SELECT user_id, event_id AS change_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS cents,
      |  CAST(ts AS TIMESTAMP) AS valid_from,
      |  lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
      |  lead(ts) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |ORDER BY user_id, valid_from, change_id""".stripMargin

  // ---- Q58: sweep-line interval concurrency ------------------------------

  /** Peak concurrency per event type: treat each event as a half-open
    * 30-minute interval [ts, ts+30m) and sweep — +1 at each start, −1 at
    * each end (ends sort before starts at the same instant), max of the
    * running sum.
    *
    * Scale shape — the x39 rule applied to a sweep: a running sum keyed by
    * event_type alone would serialize the dominant type into ONE task's
    * sort. Instead the point set is range-partitioned by the full sweep
    * order (type, t, delta, id); each partition prefix-sums locally
    * (window keyed by (rng, type), never type alone), per-partition totals
    * — one tiny row per (rng, type) — cumulate into offsets, and
    * offset + local sum is the exact global running sum for any range
    * boundaries. The per-type max then reduces map-side. */
  def q58SweepConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"))
    val pts = ev.select(col("event_type"), col("ts").as("t"),
        lit(1).as("delta"), col("event_id"))
      .unionByName(ev.select(col("event_type"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
        lit(-1).as("delta"), col("event_id")))
    val ranged = pts
      .repartitionByRange(col("event_type"), col("t"), col("delta"), col("event_id"))
      .withColumn("rng", spark_partition_id())
      // PIN the partition labels: this frame feeds BOTH the offsets
      // aggregate and the join below, and spark_partition_id over a range
      // exchange is only consistent across the two consumers while the
      // exchange is reused — a re-executed RangePartitioner re-samples
      // with a fresh seed and could label the same row differently,
      // silently corrupting offset+local. Materializing makes the labels
      // a fact, not a replayable computation.
      .localCheckpoint(true)
    val wLocal = Window.partitionBy(col("rng"), col("event_type"))
      .orderBy(col("t"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("run", sum(col("delta")).over(wLocal))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("rng"), col("event_type"))
      .agg(sum(col("delta")).as("tot"))
      .withColumn("offset", coalesce(sum(col("tot")).over(wOff), lit(0L)))
      .select(col("rng"), col("event_type"), col("offset"))
    local.join(broadcast(offsets), Seq("rng", "event_type"))
      .select(col("event_type"), (col("run") + col("offset")).as("conc"))
      .groupBy(col("event_type"))
      .agg(max(col("conc")).cast(LongType).as("max_concurrent"),
           expr("count(1) div 2").as("n_intervals"))
      .orderBy(col("event_type"))
  }

  /** The oracle sweeps with one per-type window — fine at oracle scale;
    * ties within (t, delta) don't affect the max because tied deltas share
    * a sign (any tie order yields the same partial-sum set). */
  val q58Sql: String =
    """WITH pts AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT event_type, CAST(ts AS TIMESTAMP) + INTERVAL '30 minutes', -1 FROM events),
      |r AS (SELECT event_type,
      |        sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |      FROM pts)
      |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
      |  CAST(count(*) // 2 AS BIGINT) AS n_intervals
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- Q59: exact median by value-domain counting ------------------------

  /** Exact (lower) median per event type without any data-sized sort:
    * count per distinct VALUE, cumulate over the value domain, and pick the
    * first value whose cumulative count reaches ⌈n/2⌉.
    *
    * Scale shape: the only corpus-sized operation is the (type, cents)
    * count — partial+final, map-side combinable. The cumulative window runs
    * over the DISTINCT-VALUE table, whose size is the value domain (cents
    * of bounded magnitude), not the row count — the classic exact-median
    * shape for 100 TB where sort-based median is a full global sort and
    * approx_percentile is inexact. */
  def q59ExactMedian(spark: SparkSession, dir: String): DataFrame = {
    val c = changes(spark, dir).select(col("event_type"), col("cents"))
    val counts = c.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = c.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    counts.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(totals), "event_type")
      .groupBy(col("event_type"), col("n"))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("cents")))
        .as("median_cents"))
      .select(col("event_type"), col("n"), col("median_cents"))
      .orderBy(col("event_type"))
  }

  val q59Sql: String =
    """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents FROM events),
      |g AS (SELECT event_type, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
      |cum AS (SELECT event_type, cents,
      |          sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum
      |        FROM g),
      |tot AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1)
      |SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
      |  min(CASE WHEN cum >= (t.n + 1) // 2 THEN cents END) AS median_cents
      |FROM cum JOIN tot t USING (event_type)
      |GROUP BY t.event_type, t.n ORDER BY t.event_type""".stripMargin

  // ---- Q60: ordered funnel ----------------------------------------------

  /** Three-stage ordered funnel (view → click → purchase): a user reaches
    * stage k only via events STRICTLY AFTER their stage-(k−1) entry time.
    * The product-analytics attribution query.
    *
    * Scale shape: each stage is filter → groupBy(user).min(ts) — partial
    * aggregation collapses per-user events map-side — joined to the
    * previous stage's frame on user_id. All three shuffles hash the SAME
    * key, so the stage frames arrive co-partitioned and AQE reuses the
    * exchange layout; no window, no per-user event-list materialization. */
  def q60Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(name).as("stage"), col("n_users"))
    stage(s1, "1_view")
      .unionByName(stage(s2, "2_click"))
      .unionByName(stage(s3, "3_purchase"))
      .orderBy(col("stage"))
  }

  // ---- Q64: latest-wins spelled as a window — the optimizer rewrites it --

  /** The SAME latest-wins semantics as q56 but deliberately SPELLED the
    * window way (`row_number() = 1`) — because that's how users write it.
    * The engine's [[graft.plans.LatestWinsRewrite]] optimizer rule turns
    * this into the map-side-combinable `max_by` aggregation q56 hand-writes
    * (asserted below: no Window survives optimization), so the 100 TB
    * hot-key/sort hazards of the window form never reach execution. Scored
    * per key-PAIR (user, type) — the "current value per metric" table —
    * to keep it distinct from q56's per-user state. */
  def q64LatestWinsRule(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val res = changes(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("cents").as("last_cents"))
      .orderBy(col("user_id"), col("event_type"))
    require(!res.queryExecution.optimizedPlan.toString.contains("Window"),
      "LatestWinsRewrite must eliminate the window")
    res
  }

  val q64Sql: String =
    """SELECT user_id, event_type, CAST(round(value*100) AS BIGINT) AS last_cents
      |FROM (SELECT user_id, event_type, value,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ---- Q63: incremental aggregate-rollup maintenance ---------------------

  /** Maintain a daily rollup across ingestion batches WITHOUT recomputing
    * history: each load rolls up only its own rows to per-(type, day)
    * partials (n, sum, max — all re-aggregable metrics), and the
    * maintained table is the MERGE of partials: sum of counts, sum of
    * sums, max of maxes. Scored as two simulated loads (split on
    * event_id parity, so the same (type, day) group receives rows from
    * BOTH loads and the merge is a genuine partial combine, not a
    * disjoint union).
    *
    * Scale shape: at 100 TB the nightly delta is the only data-sized
    * input — its rollup is one partial+final agg over the NEW batch; the
    * merge runs on two ROLLUP-sized frames (types × days). The law that
    * makes this valid is re-aggregability: every metric here is a
    * commutative monoid, so merged partials ≡ the full recompute (which
    * is exactly what the oracle runs). */
  def q63IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = changes(spark, dir).select(col("event_type"),
      to_date(col("ts")).as("d"), col("cents"), col("event_id"))
    def load(pred: org.apache.spark.sql.Column): DataFrame =
      ev.filter(pred).groupBy(col("event_type"), col("d"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
             max(col("cents")).as("max_cents"))
    load(col("event_id") % 2 === 0)
      .unionByName(load(col("event_id") % 2 === 1))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
           max(col("max_cents")).as("max_cents"))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("n"), col("sum_cents"), col("max_cents"))
      .orderBy(col("event_type"), col("d"))
  }

  /** The oracle recomputes from scratch — the equivalence IS the law. */
  val q63Sql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events GROUP BY 1, 2 ORDER BY event_type, d""".stripMargin

  val q60Sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
      |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
      |UNION ALL
      |SELECT '2_click', CAST(count(*) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM s3
      |ORDER BY stage""".stripMargin

  // ---- Q77: snapshot reconciliation diff ---------------------------------

  /** Q77 — anti-entropy diff of two table states
    * ([[graft.operators.Maintenance.snapshotDiff]]): snapshot A drops
    * event_id ≡ 0 (mod 7), snapshot B drops ≡ 0 (mod 3) and bumps the
    * cents payload on ≡ 0 (mod 11) — so all four statuses genuinely occur
    * at every SF. Scored as the per-(status, event_type) summary of the
    * row-level diff; the diff itself is ONE co-partitioned full-outer
    * join, no window. */
  def q77SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = changes(spark, dir)
      .select(col("event_id"), col("event_type"), col("cents"))
    val a = base.filter(col("event_id") % 7 =!= 0)
    val b = base.filter(col("event_id") % 3 =!= 0)
      .withColumn("cents",
        col("cents") + when(col("event_id") % 11 === 0, 1L).otherwise(0L))
    graft.operators.Maintenance
      .snapshotDiff(a, b, Seq("event_id"), Seq("event_type", "cents"))
      .groupBy(col("status"),
        coalesce(col("a_event_type"), col("b_event_type")).as("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_key"), max(col("event_id")).as("max_key"))
      .orderBy(col("status"), col("event_type"))
  }

  val q77Sql: String =
    """WITH base AS (SELECT event_id, event_type,
      |                CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |a AS (SELECT * FROM base WHERE event_id % 7 != 0),
      |b AS (SELECT event_id, event_type,
      |        cents + CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS cents
      |      FROM base WHERE event_id % 3 != 0),
      |j AS (SELECT coalesce(a.event_id, b.event_id) AS event_id,
      |        a.event_type AS at, a.cents AS ac,
      |        b.event_type AS bt, b.cents AS bc,
      |        a.event_id IS NOT NULL AS ap, b.event_id IS NOT NULL AS bp
      |      FROM a FULL OUTER JOIN b ON a.event_id = b.event_id),
      |s AS (SELECT event_id, coalesce(at, bt) AS event_type,
      |        CASE WHEN NOT ap THEN 'added' WHEN NOT bp THEN 'removed'
      |             WHEN at IS NOT DISTINCT FROM bt
      |              AND ac IS NOT DISTINCT FROM bc THEN 'unchanged'
      |             ELSE 'changed' END AS status
      |      FROM j)
      |SELECT status, event_type, count(*) AS n,
      |  min(event_id) AS min_key, max(event_id) AS max_key
      |FROM s GROUP BY status, event_type ORDER BY status, event_type""".stripMargin

  // ---- Q78: exact equi-depth histogram -----------------------------------

  val DepthBuckets = 16

  /** Q78 — equi-depth histogram of the event value domain via the
    * hierarchical global rank ([[graft.operators.Ranks.equiDepth]]); the
    * exact complement of q33's equi-width bins and q36's sketched
    * percentiles. */
  def q78EquiDepth(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ranks.equiDepth(
        t(spark, dir, "events").select(col("value"), col("event_id")),
        col("value"), col("event_id"), DepthBuckets)
      .orderBy(col("bucket"))

  val q78Sql: String =
    s"""WITH r AS (SELECT value,
       |             row_number() OVER (ORDER BY value, event_id) AS rn
       |           FROM events),
       |t AS (SELECT count(*) AS n_total FROM events)
       |SELECT ((rn - 1) * $DepthBuckets) // n_total AS bucket,
       |  count(*) AS n_rows, min(value) AS min_v, max(value) AS max_v
       |FROM r, t GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- Q79: KMV bottom-k distinct-intersection sketch --------------------

  val KmvK = 32

  /** Q79 — pairwise audience overlap across event types from bottom-k
    * sketches ([[graft.operators.Kmv]]): the estimator family HLL cannot
    * provide (sketch intersection). k=32 exercises both regimes across
    * SFs: at sf0.001 every type has < k distinct users (τ degrades to
    * the full union, Jaccard exact); at sf0.01+ the sketch genuinely
    * truncates. */
  def q79KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val sk = graft.operators.Kmv.sketch(e, col("event_type"), col("user_id"), KmvK)
    graft.operators.Kmv.intersectEstimates(sk, KmvK)
      .orderBy(col("ga"), col("gb"))
  }

  val q79Sql: String = {
    val h = graft.functions.TextFns.h31Sql("'kmv:' || CAST(user_id AS VARCHAR)")
    s"""WITH d AS (SELECT DISTINCT event_type AS g, $h AS h FROM events),
       |sk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d),
       |skk AS (SELECT g, h FROM sk WHERE rn <= $KmvK),
       |gs AS (SELECT DISTINCT g FROM skk),
       |pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
       |un AS (SELECT ga, gb, h,
       |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS urn
       |       FROM (SELECT DISTINCT ga, gb, h
       |             FROM pairs JOIN skk ON skk.g = ga OR skk.g = gb)),
       |ke AS (SELECT ga, gb, least($KmvK, max(urn)) AS k_eff FROM un GROUP BY ga, gb),
       |tu AS (SELECT un.ga, un.gb, k_eff, h AS tau FROM un
       |       JOIN ke USING (ga, gb) WHERE urn = k_eff),
       |cm AS (SELECT t.ga, t.gb, count(*) AS n_common
       |       FROM skk a JOIN skk b ON a.h = b.h AND a.g < b.g
       |       JOIN tu t ON t.ga = a.g AND t.gb = b.g
       |       WHERE a.h <= t.tau GROUP BY t.ga, t.gb)
       |SELECT tu.ga, tu.gb, CAST(k_eff AS BIGINT) AS k_eff, tau,
       |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |  CAST(coalesce(n_common, 0) AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard,
       |  CAST(k_eff - 1 AS DOUBLE) * 2147483647 / CAST(tau AS DOUBLE) AS est_union,
       |  (CAST(coalesce(n_common, 0) AS DOUBLE) / CAST(k_eff AS DOUBLE))
       |    * (CAST(k_eff - 1 AS DOUBLE) * 2147483647 / CAST(tau AS DOUBLE)) AS est_intersect
       |FROM tu LEFT JOIN cm USING (ga, gb) ORDER BY ga, gb""".stripMargin
  }

  // ---- Q95: content checksums (anti-entropy fingerprints) ----------------

  /** Q95 — per-group CONTENT CHECKSUMS via the engine's native
    * DeclarativeAggregate ([[graft.functions.ChecksumAgg]], SQL
    * `checksum_agg`): each event serializes to a canonical pipe-joined
    * string, the aggregate folds Σ h31 mod (2³¹−1) — order- and
    * partitioning-independent, so two replicas compare with one row per
    * group instead of q77's row-level diff (checksum first, diff only on
    * mismatch). This is the DECLARATIVE aggregate rung of the ladder:
    * unlike q21's typed Aggregator (encoder-serialized, codegen-opaque),
    * update/merge/eval here are pure expression trees — whole-stage
    * codegen and map-side partial aggregation apply as if it were a
    * built-in. The oracle replays Σ h31 with HUGEINT and the same
    * modulus — bit-identical. */
  def q95ContentChecksum(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ChecksumAgg.register(spark) // stock-session fallback
    // canonical serialization: every field occupies its slot — a NULL
    // renders as an explicit single-space marker (impossible in these
    // numeric renders), so (a,NULL,b) and (a,b,NULL) serialize
    // differently and no row silently drops out of the sum (a bare
    // concat_ws would SKIP null args; the oracle's || would null the row)
    def slot(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit("\u0000"))
    t(spark, dir, "events")
      .select(col("event_type"),
        concat_ws("|", slot(col("event_id")), slot(col("user_id")),
          slot(round(col("value") * 100).cast(LongType)),
          slot(unix_micros(col("ts")))).as("payload"))
      .createOrReplaceTempView("events_q95")
    spark.sql(
      """SELECT event_type, count(*) AS n, checksum_agg(payload) AS checksum
        |FROM events_q95 GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q95Sql: String = {
    def slot(e: String) = s"coalesce(CAST($e AS VARCHAR), ' ')"
    val h = graft.functions.TextFns.h31Sql(
      slot("event_id") + " || '|' || " + slot("user_id") + " || '|' || " +
        slot("CAST(round(value * 100) AS BIGINT)") + " || '|' || " +
        slot("epoch_us(CAST(ts AS TIMESTAMP))"))
    s"""WITH r AS (SELECT event_type, $h AS h FROM events)
       |SELECT event_type, count(*) AS n,
       |  CAST(CAST(sum(h) AS HUGEINT) % 2147483647 AS BIGINT) AS checksum
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---- Q96: streamed rollup maintenance (landing-dir form), scored -------

  /** Q96 — [[graft.operators.RollupState]]'s landing-dir ingest form
    * under the oracle: events land as JSON lines, each micro-batch's
    * PARTIAL daily rollup merges into the maintained table
    * ([[graft.streaming.EventStreams.rollupMaintainStream]] — history
    * never recomputed; n/sum/max are commutative monoids so any batch
    * slicing folds to the recompute), and the maintained table itself is
    * scored against q63's from-scratch oracle. q70 gates the same
    * algebra fed by a parquet file stream; this gates the JSON
    * landing-dir service shape (the reference's daily fetch loop as a
    * continuously-maintained rollup). */
  def q96StreamRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q96_").toFile
    try {
      val landing = new java.io.File(tmp, "landing").getAbsolutePath
      val rollup = new java.io.File(tmp, "rollup").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      t(spark, dir, "events")
        .selectExpr("event_type", "unix_micros(ts) AS ts_us",
          "CAST(round(value * 100) AS BIGINT) AS cents")
        .coalesce(1).write.json(landing)
      graft.streaming.EventStreams.rollupMaintainStream(spark, landing, rollup, ckpt)
      val res = spark.read.parquet(rollup)
        .select(col("event_type"), col("d"), col("n"),
          col("sum_cents"), col("max_cents"))
      // rollup-sized (types × days): materialize so the temp tree drops
      graft.util.Materialize.sorted(res, col("event_type"), col("d"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Maintained-by-merge ≡ recompute: q63's oracle verbatim. */
  val q96Sql: String = q63Sql

  // ---- Q84: robust outlier detection (median / MAD) ----------------------

  /** Q84 — robust per-group outlier detection: flag orders whose price
    * deviates from their priority's MEDIAN by more than 3× the median
    * absolute deviation (MAD). Mean/stddev-based z-scores are themselves
    * dragged by the outliers they hunt; median/MAD is the standard robust
    * alternative, and with prices held as integer CENTS every step —
    * median (percentile_disc returns an element), |x − med|, the deviation
    * median, the 3×MAD compare — is pure integer arithmetic, bit-equal in
    * any engine.
    *
    * Scale shape: two aggregation passes over the corpus (per-group median,
    * then per-group deviation median + flag count), both partial+final
    * hash aggs on the tiny priority key with the medians joined back as
    * broadcasts; no window ever touches a corpus-sized partition (the
    * WITHIN GROUP sort is per-group inside the agg — at 100 TB the
    * domain-counting form of q59 swaps in for the same answer). */
  def q84MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .createOrReplaceTempView("orders_q84")
    spark.sql(
      """WITH med AS (
        |  SELECT o_orderpriority,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
        |      AS med_cents
        |  FROM orders_q84 GROUP BY o_orderpriority),
        |dev AS (
        |  SELECT o.o_orderpriority, m.med_cents,
        |    abs(o.cents - m.med_cents) AS dev
        |  FROM orders_q84 o JOIN med m USING (o_orderpriority)),
        |mad AS (
        |  SELECT o_orderpriority, med_cents,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS BIGINT)
        |      AS mad_cents
        |  FROM dev GROUP BY o_orderpriority, med_cents)
        |SELECT d.o_orderpriority, m.med_cents, m.mad_cents,
        |  count(*) AS n,
        |  count(CASE WHEN d.dev > 3 * m.mad_cents THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad m USING (o_orderpriority)
        |GROUP BY d.o_orderpriority, m.med_cents, m.mad_cents
        |ORDER BY d.o_orderpriority""".stripMargin)
  }

  /** The oracle states percentile_disc's definition via cume_dist (q28's
    * convention) so no engine's quantile-index choice is trusted. */
  val q84Sql: String =
    """WITH c AS (SELECT o_orderpriority,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |r1 AS (SELECT o_orderpriority, cents,
      |         cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS cd
      |       FROM c),
      |med AS (SELECT o_orderpriority, min(cents) FILTER (cd >= 0.5) AS med_cents
      |        FROM r1 GROUP BY o_orderpriority),
      |dev AS (SELECT c.o_orderpriority, m.med_cents,
      |          abs(c.cents - m.med_cents) AS dev
      |        FROM c JOIN med m USING (o_orderpriority)),
      |r2 AS (SELECT o_orderpriority, med_cents, dev,
      |         cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY dev) AS cd
      |       FROM dev),
      |mad AS (SELECT o_orderpriority, med_cents,
      |          min(dev) FILTER (cd >= 0.5) AS mad_cents
      |        FROM r2 GROUP BY o_orderpriority, med_cents)
      |SELECT d.o_orderpriority, m.med_cents, m.mad_cents,
      |  count(*) AS n,
      |  count(CASE WHEN d.dev > 3 * m.mad_cents THEN 1 END) AS n_outliers
      |FROM dev d JOIN mad m USING (o_orderpriority)
      |GROUP BY d.o_orderpriority, m.med_cents, m.mad_cents
      |ORDER BY d.o_orderpriority""".stripMargin
}
