package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Donki
import graft.operators.DedupAppend
import graft.streaming.Drain

/** Reference-parity queries P1–P3 (SURVEY.md §2.4).
  *
  * The DONKI fixture below is the single source of truth for BOTH engines:
  * it renders to JSON for the Spark ingest path and to a SQL VALUES clause
  * for the DuckDB oracle, so the two sides can never drift.
  *
  * Edge rows exercised (FIXTURES.md §A): missing activeRegionNum key, null
  * endTime, duplicate flrID with differing payload (dedup tie-break), and a
  * malformed timestamp (lenient cast → null).
  */
object Parity {

  /** One raw DONKI flare record; None = key absent from the JSON. */
  final case class Flr(
      flrID: String, classType: String,
      beginTime: Option[String], peakTime: Option[String], endTime: Option[String],
      sourceLocation: Option[String], activeRegionNum: Option[Int],
      link: String, instruments: Seq[String] = Nil)

  /** Batch A — first day's fetch. FLR-005 appears with classType M3.1. */
  val batchA: Seq[Flr] = Seq(
    Flr("2025-05-25T08:24:00-FLR-001", "M1.2", Some("2025-05-25T08:24Z"),
      Some("2025-05-25T08:45Z"), Some("2025-05-25T09:01Z"), Some("N15W60"),
      Some(13663), "https://api.example/FLR/1", Seq("GOES-P: EXIS 1.0-8.0")),
    Flr("2025-05-26T01:10:00-FLR-001", "C9.8", Some("2025-05-26T01:10Z"),
      Some("2025-05-26T01:22Z"), Some("2025-05-26T01:40Z"), Some("S08E22"),
      None, "https://api.example/FLR/2"),
    Flr("2025-05-27T14:02:00-FLR-001", "X2.0", Some("2025-05-27T14:02Z"),
      Some("2025-05-27T14:30Z"), None, None, Some(13667),
      "https://api.example/FLR/3", Seq("GOES-P: EXIS 1.0-8.0")),
    Flr("2025-05-28T03:55:00-FLR-001", "B7.4", Some("not-a-timestamp"),
      Some("2025-05-28T04:10Z"), Some("2025-05-28T04:31Z"), Some("N02W11"),
      Some(13668), "https://api.example/FLR/4"),
    Flr("2025-05-29T19:46:00-FLR-001", "M3.1", Some("2025-05-29T19:46Z"),
      Some("2025-05-29T20:02Z"), Some("2025-05-29T20:20Z"), Some("S21W35"),
      Some(13669), "https://api.example/FLR/5"))

  /** Batch B — next day's fetch of an overlapping 30-day window (reference
    * README.md:74): re-delivers FLR-005's key with a REVISED classType
    * (M3.2) plus two new flares. Idempotent append must keep batch A's row. */
  val batchB: Seq[Flr] = Seq(
    Flr("2025-05-29T19:46:00-FLR-001", "M3.2", Some("2025-05-29T19:46Z"),
      Some("2025-05-29T20:02Z"), Some("2025-05-29T20:21Z"), Some("S21W35"),
      Some(13669), "https://api.example/FLR/5"),
    Flr("2025-05-30T11:11:00-FLR-001", "C1.1", Some("2025-05-30T11:11Z"),
      Some("2025-05-30T11:19Z"), Some("2025-05-30T11:30Z"), None, None,
      "https://api.example/FLR/6"),
    Flr("2025-05-31T22:03:00-FLR-001", "M8.9", Some("2025-05-31T22:03Z"),
      Some("2025-05-31T22:41Z"), Some("2025-05-31T23:05Z"), Some("N30E47"),
      Some(13671), "https://api.example/FLR/7", Seq("GOES-P: EXIS 1.0-8.0")))

  // ---- fixture rendering: JSON (Spark ingest) --------------------------

  private def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def toJson(r: Flr): String = {
    val fields = Seq(
      Some("flrID" -> jstr(r.flrID)),
      Some("classType" -> jstr(r.classType)),
      r.beginTime.map(v => "beginTime" -> jstr(v)),
      r.peakTime.map(v => "peakTime" -> jstr(v)),
      r.endTime.map(v => "endTime" -> jstr(v)),
      r.sourceLocation.map(v => "sourceLocation" -> jstr(v)),
      r.activeRegionNum.map(v => "activeRegionNum" -> v.toString),
      Some("link" -> jstr(r.link)),
      Option.when(r.instruments.nonEmpty)("instruments" ->
        r.instruments.map(i => s"""{"displayName": ${jstr(i)}}""").mkString("[", ",", "]")),
    ).flatten
    fields.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
  }

  /** A JSON array payload, as one HTTP response body would carry it. */
  def jsonBody(rows: Seq[Flr]): String = rows.map(toJson).mkString("[", ", ", "]")

  // ---- fixture rendering: SQL VALUES (DuckDB oracle) -------------------

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"
  private def sqlOpt(s: Option[String]) = s.map(sqlStr).getOrElse("NULL")

  private def toValuesRow(r: Flr): String = Seq(
    sqlStr(r.flrID), sqlStr(r.classType), sqlOpt(r.beginTime),
    sqlOpt(r.peakTime), sqlOpt(r.endTime), sqlOpt(r.sourceLocation),
    r.activeRegionNum.map(n => s"CAST($n AS INTEGER)").getOrElse("CAST(NULL AS INTEGER)"),
    sqlStr(r.link)).mkString("(", ", ", ")")

  /** `(VALUES …) AS t(flr_id, class_type, …)` subquery for a batch. */
  def valuesTable(rows: Seq[Flr], alias: String): String =
    rows.map(toValuesRow).mkString("(VALUES ", ", ", ")") +
      s" AS $alias(flr_id, class_type, begin_raw, peak_raw, end_raw," +
      " source_location, active_region_num, link)"

  /** Shared oracle-side projection: raw strings → timestamps, leniently. */
  private val oracleCast =
    """flr_id, class_type,
      |  try_strptime(begin_raw, '%Y-%m-%dT%H:%MZ') AS begin_time,
      |  try_strptime(peak_raw, '%Y-%m-%dT%H:%MZ') AS peak_time,
      |  try_strptime(end_raw, '%Y-%m-%dT%H:%MZ') AS end_time,
      |  source_location, active_region_num, link""".stripMargin

  /** Oracle-side first-per-key dedup (same rule as DedupAppend). */
  private def dedupSql(values: String): String =
    s"""SELECT flr_id, class_type, begin_raw, peak_raw, end_raw, source_location, active_region_num, link
       |FROM (SELECT *, row_number() OVER (PARTITION BY flr_id ORDER BY class_type, link, flr_id) AS rn
       |      FROM $values) WHERE rn = 1""".stripMargin

  // ---- P1: ingest-project-cast ----------------------------------------

  /** P1 — parse the DONKI JSON payload, project/rename the 8 kept fields,
    * lenient timestamp cast, deterministic surrogate id. */
  def p1IngestProject(spark: SparkSession, dir: String): DataFrame =
    Donki.withId(Donki.project(Donki.readJson(spark, Seq(jsonBody(batchA ++ batchB)))))
      .orderBy(col("flr_id"), col("class_type"))

  val p1Sql: String =
    s"""SELECT row_number() OVER (ORDER BY flr_id, class_type, link) AS id, $oracleCast
       |FROM ${valuesTable(batchA ++ batchB, "raw")}
       |ORDER BY flr_id, class_type""".stripMargin

  // ---- P2: idempotent dedup-append ------------------------------------

  /** P2 — append batch A, re-append batch A (no-op), append overlapping
    * batch B; final table must equal once-appended distinct set with batch
    * A's FLR-005 surviving. Exercises the reference's ON CONFLICT semantics
    * end-to-end through a real parquet table. */
  def p2DedupAppend(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_p2_").toFile
    val path = new java.io.File(tmp, "solar_flare_data").getAbsolutePath
    val keys = Seq("flr_id")
    val tie = Seq("class_type", "link")
    try {
      val a = Donki.project(Donki.readJson(spark, Seq(jsonBody(batchA))))
      val b = Donki.project(Donki.readJson(spark, Seq(jsonBody(batchB))))
      DedupAppend.append(spark, a, path, keys, tie)
      DedupAppend.append(spark, a, path, keys, tie) // idempotent re-run
      DedupAppend.append(spark, b, path, keys, tie)
      // Materialize the fixture-sized (7-row) result so the temp tree can be
      // removed eagerly — repeated Bench/Verify runs must not leak parquet
      // dirs to /tmp for the JVM lifetime (deleteOnExit can't remove
      // non-empty dirs). Driver-side collect is fine here: this is the
      // hand-authored parity fixture, not a data-path operator.
      val read = spark.read.parquet(path)
      graft.util.Materialize.sorted(read, col("flr_id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  val p2Sql: String = {
    val a = dedupSql(valuesTable(batchA, "a"))
    val b = dedupSql(valuesTable(batchB, "b"))
    s"""WITH da AS ($a), db AS ($b),
       |final AS (SELECT * FROM da UNION ALL
       |          SELECT * FROM db WHERE flr_id NOT IN (SELECT flr_id FROM da))
       |SELECT $oracleCast FROM final ORDER BY flr_id""".stripMargin
  }

  // ---- P3: full-table scan --------------------------------------------

  /** P3 — the reference's one analytical query (`SELECT * FROM
    * solar_flare_data`, reference documentation.md:411) over the ingested,
    * deduplicated table, with the surrogate id. */
  /** The ONE dedup-then-id spelling p3/p4/p5 share: first row per flr_id
    * under the (class_type, link) tie-break, then the surrogate id. The
    * three queries score against the SAME oracle SQL, so the tie-break
    * must never drift between them — edit it here, once. */
  private def dedupWithId(projected: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("flr_id"))
      .orderBy(col("class_type").asc_nulls_last, col("link").asc_nulls_last,
               col("flr_id").asc_nulls_last)
    Donki.withId(projected.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
  }

  def p3FullScan(spark: SparkSession, dir: String): DataFrame = {
    val all = Donki.project(Donki.readJson(spark, Seq(jsonBody(batchA), jsonBody(batchB))))
    dedupWithId(all).orderBy(col("id"))
  }

  val p3Sql: String =
    s"""SELECT row_number() OVER (ORDER BY flr_id, class_type, link) AS id, $oracleCast
       |FROM (${dedupSql(valuesTable(batchA ++ batchB, "raw"))})
       |ORDER BY id""".stripMargin

  // ---- P4: the DataSource V2 ingest path, scored -----------------------

  /** P4 — p3's pipeline with the ingest swapped for the CUSTOM DataSource
    * V2 table ([[graft.sources.v2.HttpJsonSource]], `graft-http-json`):
    * the two batch payloads are served as two `file:` URLs → two input
    * partitions whose fetch+parse run executor-side (the fan-out path for
    * many endpoints; http(s) reuses the retry policy), column pruning
    * pushed into the reader. The oracle is p3's SQL verbatim — the hash
    * gate proves the DSv2 read ≡ the driver-side `readJson` ingest on the
    * same fixture, which puts the engine's custom SOURCE (not just its
    * operators) under the DuckDB gate. */
  def p4DsvSource(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_p4_").toFile
    try {
      val fa = new java.io.File(tmp, "a.json")
      val fb = new java.io.File(tmp, "b.json")
      java.nio.file.Files.writeString(fa.toPath, jsonBody(batchA))
      java.nio.file.Files.writeString(fb.toPath, jsonBody(batchB))
      val raw = spark.read.format("graft-http-json")
        .schema(Donki.flrSchema)
        .option("urls", s"file://${fa.getAbsolutePath},file://${fb.getAbsolutePath}")
        .load()
      // fixture-sized result: materialize so the temp payload files drop
      val res = dedupWithId(Donki.project(raw))
      graft.util.Materialize.sorted(res, col("id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** DSv2 ingest ≡ driver-side ingest: the gate p3 already passes. */
  val p4Sql: String = p3Sql

  // ---- P5: the DataSource V2 WRITE path, scored ------------------------

  /** P5 — p3's pipeline with a `graft-jsonl` round trip inserted between
    * ingest and projection: the raw flare frame is WRITTEN through the
    * custom DataSource V2 sink ([[graft.sources.v2.JsonLinesSink]] — a
    * real two-phase commit: per-attempt temp files, commit-coordinated
    * winners, publish-on-commit, `_SUCCESS` last) and read back through
    * its scan before the dedup+project+id steps. The oracle is p3's SQL
    * verbatim — one more spelling of the same answer, which puts the
    * engine's custom SINK under the DuckDB hash gate: any loss, dup, or
    * mangling in render/commit/read-back flips the hash. Exercises
    * strings (escaping), ints, nulls for absent keys, and the
    * array-of-struct `instruments` payload. */
  def p5DsvSink(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_p5_").toFile
    try {
      val table = new java.io.File(tmp, "flares_jsonl").getAbsolutePath
      val raw = Donki.readJson(spark, Seq(jsonBody(batchA), jsonBody(batchB)))
      raw.write.format("graft-jsonl").mode("overwrite").save(table)
      val back = spark.read.format("graft-jsonl")
        .schema(Donki.flrSchema).load(table)
      // fixture-sized result: materialize so the temp table drops eagerly
      val res = dedupWithId(Donki.project(back))
      graft.util.Materialize.sorted(res, col("id"))
    } finally graft.util.Fs.deleteTree(tmp)
  }

  /** Sink round trip ≡ no round trip: the gate p3 already passes. */
  val p5Sql: String = p3Sql

  // ---- P6: the streaming ingest pipeline itself, scored -----------------

  /** P6 — the REFERENCE REPLACEMENT under the oracle:
    * [[graft.streaming.EventStreams.ingestFlares]] is the engine's
    * restatement of the reference's whole pipeline (daily scheduled
    * fetch → project → ON CONFLICT DO NOTHING append, reference
    * dags/etl.py:11-89) as an AvailableNow landing-dir stream with a
    * checkpoint and the idempotent DedupAppend. Here the combined fixture
    * lands as one JSON file (a single micro-batch, so the in-batch
    * first-writer tie-break is p3's deterministic (class_type, link)
    * minimum), the stream maintains the flare table, and the table —
    * read back with the surrogate id — must hash-equal p3's answer.
    * P1-P5 gate the pipeline's pieces; this gates the assembled service
    * the reference user actually migrates to. */
  def p6StreamIngest(spark: SparkSession, dir: String): DataFrame =
    Drain.scope(spark, "graft_p6_") { tmp =>
      val landing = new java.io.File(tmp, "landing")
      landing.mkdirs()
      val table = new java.io.File(tmp, "solar_flare_data").getAbsolutePath
      val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
      java.nio.file.Files.writeString(
        new java.io.File(landing, "flares.json").toPath,
        jsonBody(batchA ++ batchB))
      graft.streaming.EventStreams.ingestFlares(
        spark, landing.getAbsolutePath, table, ckpt)
      val read = spark.read.parquet(table)
      // fixture-sized result: materialize so the temp tree drops eagerly
      val res = Donki.withId(read)
      graft.util.Materialize.sorted(res, col("id"))
    }

  /** Streamed pipeline ≡ batch pipeline: the gate p3 already passes. */
  val p6Sql: String = p3Sql
}
