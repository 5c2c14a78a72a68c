package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.SnapshotStore
import graft.operators.SnapshotStore.RangeHint
import graft.streaming.Drain
import graft.util.Materialize

/** Scored gates for [[graft.operators.SnapshotStore]] — the manifest-
  * committed snapshot substrate (atomic versioned commits, copy-on-write
  * row-level operations, zone-map file pruning, time travel, vacuum).
  * Each gate builds a real table in a temp root, drives the lifecycle,
  * REQUIRE's the physical contract (files carried by reference, pruning
  * counts, on-disk = referenced), and returns a frame the DuckDB oracle
  * checks against the original tables — so a row lost or duplicated by
  * any commit is a hash mismatch, not a silent drift. */
object Snapshot {

  private def withTmp[A](spark: SparkSession, prefix: String)(f: String => A): A =
    Drain.scope(spark, prefix)(tmp => f(new java.io.File(tmp, "t").getAbsolutePath))

  private def docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** The shared ingest story: three keyed micro-batches with the first
    * fully re-delivered inside the second (the reference's ON CONFLICT
    * shape), then a row-level delete. Versions: 1=create, 2=append_dedup,
    * 3=append_dedup, 4=delete. */
  private def buildDocsTable(spark: SparkSession, dir: String, path: String): Unit = {
    val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
    def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    SnapshotStore.create(spark, slice(0), path)
    // slice 0 re-delivered alongside slice 1: the dedup append must drop it
    SnapshotStore.appendDedup(spark, slice(0).union(slice(1)), path,
      keys = Seq("doc_id"), tieBreak = Nil)
    SnapshotStore.appendDedup(spark, slice(2), path,
      keys = Seq("doc_id"), tieBreak = Nil)
    SnapshotStore.deleteWhere(spark, path, col("lang") === "de")
  }

  /** Q129 — SNAPSHOT TABLE LIFECYCLE, scored end-to-end: keyed idempotent
    * appends under atomic manifest commits, then a copy-on-write delete.
    * The require gates pin the commit protocol (exactly versions 1–4 —
    * the re-delivered rows caused NO version bump beyond their batch's;
    * every append carried the previous version's files BY REFERENCE) and
    * the lock discipline (no lease marker survives). The oracle — every
    * document exactly once, minus the deleted language — catches any row
    * a commit lost, duplicated, or resurrected. At 100 TB each append
    * writes only its batch and each commit is one marker create: table
    * size never enters the write path. */
  def q129SnapshotOps(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q129_") { path =>
      buildDocsTable(spark, dir, path)
      require(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L, 4L),
        s"q129: expected versions 1..4, got ${SnapshotStore.versions(spark, path)}")
      val v2 = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      val v3 = SnapshotStore.entries(spark, path, 3).map(_.path).toSet
      require(v2.subsetOf(v3), "q129: append must carry prior files by reference")
      val lease = new java.io.File(path + "__lease")
      require(!lease.exists, "q129: lease marker must not survive maintenance")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Each document exactly once, minus the deleted language. */
  val q129Sql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE lang IS DISTINCT FROM 'de' ORDER BY doc_id""".stripMargin

  /** Q130 — TIME TRAVEL, scored: after the full lifecycle (including the
    * delete) and a vacuum that keeps versions 2–4, version 3 — the last
    * pre-delete state — still reads EXACTLY as the complete corpus, while
    * the aged-out version 1 refuses loudly (its commit marker is gone)
    * instead of returning partial data. Snapshot isolation is what makes
    * readers lock-free at 100 TB: a reader pinned to version 3 is
    * untouched by any number of later commits. */
  def q130TimeTravel(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q130_") { path =>
      buildDocsTable(spark, dir, path)
      SnapshotStore.vacuum(spark, path, keepVersions = 3)
      require(SnapshotStore.versions(spark, path) == Seq(2L, 3L, 4L),
        s"q130: expected versions 2..4 kept, got ${SnapshotStore.versions(spark, path)}")
      require(scala.util.Try(SnapshotStore.readVersion(spark, path, 1)).isFailure,
        "q130: reading a vacuumed-out version must refuse, not return partial data")
      Materialize.sorted(SnapshotStore.readVersion(spark, path, 3), col("doc_id"))
    }

  /** Version 3 is the complete corpus (pre-delete, all three slices). */
  val q130Sql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"

  private def orderCols(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
      col("o_orderpriority"))

  /** Q131 — COPY-ON-WRITE UPDATE with zone-map targeting, scored: orders
    * lands range-clustered on o_orderkey across 8 files (disjoint per-file
    * key intervals in the manifest), then a ranged UPDATE rewrites ONLY
    * the files whose [min,max] overlaps the range — require'd: at least
    * 6 of 8 files carry by reference, so the rewrite cost is the touched
    * range, not the table. The oracle replays the update as CASE WHEN
    * over the original table; any row the rewrite dropped, duplicated, or
    * wrongly updated is a hash mismatch. At 100 TB this is the difference
    * between rewriting gigabytes and rewriting the whole table for a
    * one-key-range correction. */
  def q131CowUpdate(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q131_") { path =>
      SnapshotStore.create(spark, t(spark, dir, "orders"), path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      SnapshotStore.updateWhere(spark, path,
        col("o_orderkey") <= 99, Map("o_orderpriority" -> lit("0-REWRITTEN")),
        hint = Some(RangeHint("o_orderkey", "0", "99")))
      val after = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      val carried = (before intersect after).size
      require(carried >= 6,
        s"q131: ranged update must carry >=6 of 8 files by reference, carried $carried")
      Materialize.sorted(orderCols(SnapshotStore.read(spark, path)), col("o_orderkey"))
    }

  /** The update replayed declaratively over the original table. */
  val q131Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  CASE WHEN o_orderkey <= 99 THEN '0-REWRITTEN' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q132 — ZONE-MAP PRUNED RANGE SCAN, scored: orders range-clustered on
    * o_orderdate, so each file's manifest interval covers ~10 months of
    * the ~80-month span; a 3-month window scan intersects the query range
    * with the per-file [min,max] DRIVER-SIDE (manifest-sized work, zero
    * I/O) and is require'd to open strictly fewer files than the table
    * holds. The exact predicate re-applies on the survivors, and the
    * oracle runs the same window over the full table — a file wrongly
    * pruned surfaces as missing rows, not silence. At 100 TB the manifest
    * prune is what turns a time-windowed scan from all-files into
    * O(window/span) files before the reader even opens a footer. */
  def q132ManifestPrune(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q132_") { path =>
      SnapshotStore.create(spark, t(spark, dir, "orders"), path,
        statsColumns = Seq("o_orderdate"), clusterBy = Seq("o_orderdate"), numFiles = 8)
      val es = SnapshotStore.entries(spark, path, 1)
      // o_orderdate is TIMESTAMP_NTZ (zone-free wall clock): its stats
      // encode as fixed-width ISO strings, so the window bounds are
      // spelled the same way (an instant column would use epoch micros)
      val kept = SnapshotStore.pruned(es, "o_orderdate",
        "1996-06-01 00:00:00.000000", "1996-08-31 23:59:59.999999")
      require(kept.size < es.size,
        s"q132: zone map must prune (kept ${kept.size} of ${es.size})")
      val res = SnapshotStore.readFiles(spark, path, kept)
        .filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-09-01").cast("timestamp"))
      Materialize.sorted(orderCols(res), col("o_orderkey"))
    }

  /** The same window over the full table — wrong pruning = missing rows. */
  val q132Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-06-01'
      |  AND o_orderdate < TIMESTAMP '1996-09-01'
      |ORDER BY o_orderkey""".stripMargin

  /** Q133 — VACUUM + COMPACTION LIFECYCLE, scored: delete + update + a
    * clustering compaction rewrite, then vacuum to the last two versions.
    * The require gates pin storage hygiene exactly: the data directory
    * holds PRECISELY the files referenced by the kept manifests (no
    * orphans from dropped versions, crashed committers, or no-op appends
    * — and nothing referenced was wrongly reclaimed, or the scored read
    * would fail), and the compacted current version is a single file.
    * The oracle replays delete + update declaratively. This is q99's
    * maintenance-loop discipline on the snapshot substrate, where
    * compaction needs no swap dance because readers never race a rename. */
  def q133VacuumLifecycle(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q133_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 6)
      SnapshotStore.deleteWhere(spark, path, col("lang") === "de")
      SnapshotStore.updateWhere(spark, path,
        col("lang") === "zh", Map("source" -> lit("merged")))
      SnapshotStore.compact(spark, path, Long.MaxValue, clusterBy = Seq("doc_id"))
      val (reclaimed, dropped) = SnapshotStore.vacuum(spark, path, keepVersions = 2)
      require(dropped == 2L, s"q133: expected 2 versions dropped, got $dropped")
      require(reclaimed > 0L, "q133: vacuum must reclaim the dropped versions' files")
      val vs = SnapshotStore.versions(spark, path)
      require(vs == Seq(3L, 4L), s"q133: expected versions 3,4 kept, got $vs")
      require(SnapshotStore.entries(spark, path, 4).size == 1,
        "q133: compaction to MaxValue target must land one file")
      // disk holds exactly the referenced set
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualRoot = fs.makeQualified(root).toUri.getPath
      val onDisk = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
        val b = scala.collection.mutable.Set.empty[String]
        while (it.hasNext) {
          val p = it.next().getPath
          if (!p.getName.startsWith("_") && !p.getName.startsWith("."))
            b += p.toUri.getPath.stripPrefix(qualRoot + "/")
        }
        b.toSet
      }
      val referenced = vs.flatMap(v =>
        SnapshotStore.entries(spark, path, v).map(_.path)).toSet
      require(onDisk == referenced,
        s"q133: disk/manifest drift — on disk $onDisk vs referenced $referenced")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Delete + update replayed declaratively over the original table. */
  val q133Sql: String =
    """SELECT doc_id, text, lang,
      |  CASE WHEN lang = 'zh' THEN 'merged' ELSE source END AS source, n_chars
      |FROM documents WHERE lang IS DISTINCT FROM 'de' ORDER BY doc_id""".stripMargin

  /** Q134 — STREAMING INGEST INTO THE SNAPSHOT TABLE, scored under full
    * crash-replay: two landed batches stream in via
    * [[graft.streaming.EventStreams.snapshotIngestStream]] (each
    * micro-batch one atomic versioned commit), then the WHOLE stream is
    * replayed from a fresh checkpoint — the worst redelivery case, every
    * input file again. The require gates pin exactly-once at the version
    * level: the replay produced NO new versions (a re-delivered batch is
    * a true no-op, not an empty commit), so the version history is the
    * true arrival history, and the oracle (each document exactly once)
    * catches any duplicate or lost row. This is the reference's
    * ON-CONFLICT ingest loop with a property plain-parquet append cannot
    * give: a crash BETWEEN the sink write and the checkpoint commit
    * replays into an atomic no-op instead of a half-visible batch. */
  def q134StreamSnapshot(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q134_") { path =>
      val base = new java.io.File(path).getParentFile
      val landing = new java.io.File(base, "landing").getAbsolutePath
      val ckpt1 = new java.io.File(base, "ckpt1").getAbsolutePath
      val ckpt2 = new java.io.File(base, "ckpt2").getAbsolutePath
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1).write.json(landing)
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
        .write.mode("append").json(landing)
      graft.streaming.EventStreams.snapshotIngestStream(
        spark, landing, path, ckpt1, keys = Seq("doc_id"))
      val vsAfterIngest = SnapshotStore.versions(spark, path)
      // full crash-replay: a FRESH checkpoint re-delivers every landed file
      graft.streaming.EventStreams.snapshotIngestStream(
        spark, landing, path, ckpt2, keys = Seq("doc_id"))
      val vsAfterReplay = SnapshotStore.versions(spark, path)
      require(vsAfterReplay == vsAfterIngest,
        s"q134: replay must be a version-level no-op ($vsAfterIngest -> $vsAfterReplay)")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Each document exactly once, despite the full re-delivery. */
  val q134Sql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"

  /** Q135 — MERGE (upsert) ON THE SNAPSHOT TABLE, scored: one batch
    * carrying both updates (keys < 50, three columns changed) and inserts
    * (fresh keys past the table's max), with the update half duplicated
    * in-batch (the survivor rule must collapse it), lands in ONE atomic
    * commit via [[graft.operators.SnapshotStore.merge]]. The require
    * pins copy-on-write at file granularity: the matched keys live in one
    * of the 8 range-clustered files, so ≥7 files carry by reference —
    * found by the key semi-join probe, no manifest hint needed. The
    * oracle replays the merge declaratively (CASE WHEN for the update
    * half, UNION ALL for the insert half); a lost insert, duplicated
    * update, or half-visible batch is a hash mismatch. This upgrades the
    * reference's ON CONFLICT DO NOTHING to DO UPDATE — with an atomicity
    * the row-at-a-time warehouse spelling only gets from its engine. */
  def q135SnapshotMerge(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q135_") { path =>
      val o = t(spark, dir, "orders")
      SnapshotStore.create(spark, o, path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      val low = o.filter(col("o_orderkey") < 50)
      val updates = low
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .withColumn("o_orderpriority", lit("0-MERGED"))
      val inserts = low.select(
        (col("o_orderkey") + lit(200000L)).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        lit("0-INSERTED").as("o_orderpriority"))
      val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      // updates shipped twice: the deterministic survivor collapses them
      SnapshotStore.merge(spark, updates.unionByName(inserts).unionByName(updates),
        path, keys = Seq("o_orderkey"), tieBreak = Nil)
      val after = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      val carried = (before intersect after).size
      require(carried >= 7,
        s"q135: merge must carry >=7 of 8 files by reference, carried $carried")
      Materialize.sorted(orderCols(SnapshotStore.read(spark, path)), col("o_orderkey"))
    }

  /** The merge replayed declaratively: CASE WHEN updates + UNION inserts. */
  val q135Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey < 50 THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey < 50 THEN o_totalprice + 1.0 ELSE o_totalprice END
      |    AS o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey < 50 THEN '0-MERGED' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 200000, o_custkey, 'N', o_totalprice, o_orderdate,
      |  '0-INSERTED'
      |FROM orders WHERE o_orderkey < 50
      |ORDER BY o_orderkey""".stripMargin

  /** Q137 — INCREMENTAL CHANGE READ, scored: after the full lifecycle
    * (two dedup appends onto the created slice, then a delete), the net
    * delta between version 1 and the current version is read via the
    * MANIFEST DIFF — only files present in exactly one of the two
    * versions are opened; every carried file is skipped without I/O.
    * The oracle computes the same delta declaratively (EXCEPT ALL both
    * ways between the two states). The require pins the pruning: the
    * delta read must not touch the carried version-1 files that survived
    * into the current manifest. This is the API an incremental consumer
    * (maintained MV, replica, index) follows the table with — cost ∝
    * churn between versions, never table size. */
  def q137SnapshotChanges(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q137_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      SnapshotStore.deleteWhere(spark, path,
        col("doc_id") >= 100 && col("doc_id") < 120,
        hint = Some(RangeHint("doc_id", "100", "119")))
      SnapshotStore.updateWhere(spark, path,
        col("doc_id") >= 200 && col("doc_id") < 210, Map("lang" -> lit("xx")),
        hint = Some(RangeHint("doc_id", "200", "209")))
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      val v3 = SnapshotStore.entries(spark, path, 3).map(_.path).toSet
      val carried = v1 intersect v3
      require(carried.size >= 6,
        s"q137: precondition — >=6 of 8 v1 files carried into v3, got ${carried.size}")
      val delta = SnapshotStore.changesBetween(spark, path, 1L, 3L)
      // the physical pin: the delta plan's scans open ONLY changed files —
      // no carried-by-reference file is ever touched
      val touchedByPlan = delta.inputFiles.map(f =>
        new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
      val carriedAbs = carried.map(rel =>
        new org.apache.hadoop.fs.Path(path + "/" + rel).toUri.getPath)
      require((touchedByPlan intersect carriedAbs).isEmpty,
        "q137: the incremental read must skip every carried file")
      Materialize.sorted(delta, col("change_type"), col("doc_id"))
    }

  /** The same net delta, declaratively: deletes are the removed range plus
    * the pre-update image of the updated range; inserts are the updated
    * rows' new image. */
  val q137Sql: String =
    """WITH v1 AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
      |v3 AS (SELECT doc_id, text,
      |         CASE WHEN doc_id BETWEEN 200 AND 209 THEN 'xx' ELSE lang END AS lang,
      |         source, n_chars
      |       FROM documents WHERE NOT (doc_id BETWEEN 100 AND 119)),
      |delta AS (
      |  SELECT *, 'insert' AS change_type FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1)
      |  UNION ALL
      |  SELECT *, 'delete' AS change_type FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3))
      |SELECT doc_id, text, lang, source, n_chars, change_type FROM delta
      |ORDER BY change_type, doc_id""".stripMargin

  /** Q138 — INCREMENTAL CONSUMER over the change feed, scored: a
    * per-language (count, Σchars) aggregate is maintained by folding
    * ONLY [[graft.operators.SnapshotStore.changesBetween]] deltas,
    * version by version, from the version-1 snapshot through the full
    * lifecycle (two dedup appends, then a delete) — the maintained state
    * NEVER re-reads the table. Insert rows add (+1, +chars), delete rows
    * subtract; groups folding to zero count vanish. The require pins the
    * IVM algebra row-for-row against a direct aggregate of the current
    * version; the oracle recomputes it from the original table. This is
    * what the manifest diff is FOR: a downstream MV follows a 100 TB
    * table paying churn-sized reads per version, and the fold is exact —
    * not eventually-consistent — because each delta is an exact multiset
    * difference between committed snapshots. */
  def q138SnapshotIvm(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q138_") { path =>
      buildDocsTable(spark, dir, path) // v1..v4
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      var mv = aggOf(SnapshotStore.readVersion(spark, path, 1))
      for (v <- 2L to SnapshotStore.currentVersion(spark, path)) {
        val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
        val d = SnapshotStore.changesBetween(spark, path, v - 1, v)
          .groupBy(col("lang"))
          .agg(sum(sign).as("d_n"), sum(sign * col("n_chars")).as("d_chars"))
        mv = mv.join(d, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
          .filter(col("n_docs") > 0L)
          .localCheckpoint(true) // cut the per-version lineage growth
      }
      val direct = aggOf(SnapshotStore.read(spark, path))
      val got = mv.orderBy(col("lang")).collect().toSeq
      require(got == direct.orderBy(col("lang")).collect().toSeq,
        "q138: delta-folded aggregate must equal the direct aggregate exactly")
      Materialize.sorted(mv, col("lang"))
    }

  /** The maintained aggregate recomputed from the original table. */
  val q138Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IS DISTINCT FROM 'de'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q139 — SCHEMA EVOLUTION, zero-rewrite, scored: the table gains a
    * `quality DOUBLE` column BETWEEN two appends; the pre-evolution files
    * are require'd untouched (every version-1 file carried by reference
    * through both the evolution — which writes no data at all — and the
    * later append), and the read resolves them against the evolved
    * schema as NULL while post-evolution rows carry real values. The
    * oracle renders the same merge-on-read semantics declaratively
    * (CASE WHEN on the slice that arrived after the evolution). At
    * 100 TB adding a column costs one small schema file — never a table
    * rewrite — which is the only viable evolution story at that size. */
  def q139SchemaEvolution(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q139_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      SnapshotStore.create(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) < 2), path)
      val v1Files = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      SnapshotStore.evolveAddColumn(spark, path, "quality", "DOUBLE")
      SnapshotStore.appendDedup(spark,
        docs.filter(pmod(col("doc_id"), lit(3)) === 2)
          .withColumn("quality", col("n_chars").cast("double") * lit(0.5)),
        path, keys = Seq("doc_id"), tieBreak = Nil)
      val v2Files = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      require(v1Files.subsetOf(v2Files),
        "q139: schema evolution + append must never rewrite existing files")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Merge-on-read semantics declaratively: pre-evolution rows NULL. */
  val q139Sql: String =
    """SELECT doc_id, text, lang, source, n_chars,
      |  CASE WHEN doc_id % 3 = 2 THEN n_chars * 0.5 ELSE NULL END AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Q140 — WRITE-AUDIT-PUBLISH, scored: a dirty batch stages, fails its
    * audit (run against [[graft.operators.SnapshotStore.readStaged]] —
    * exactly the bytes that would publish), and is abandoned; a clean
    * batch stages, audits green, and publishes with one marker create.
    * The require gates pin the isolation: a STAGED version is invisible
    * to readers (versions and read are unchanged between stage and
    * publish), the abandoned batch leaves no version and no data
    * directory behind, and the audit ran on the staged bytes, not a
    * re-derivation. The oracle checks the final table — the dirty rows
    * absent, the clean batch present exactly once. At 100 TB this is how
    * a quality gate fronts a table without copying it: stage = the
    * batch's bytes, audit = any query, publish = one atomic marker. */
  def q140WriteAuditPublish(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q140_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      SnapshotStore.create(spark, docs, path)
      def audit(v: Long): Long =
        SnapshotStore.readStaged(spark, path, v).filter(col("lang") === "zz").count()
      // dirty batch: stages, fails audit, abandoned — nothing published
      val dirty = docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
        .withColumn("lang", lit("zz"))
      val vDirty = SnapshotStore.stageAppend(spark, dirty, path)
      require(SnapshotStore.versions(spark, path) == Seq(1L),
        "q140: a staged version must be invisible to readers")
      require(audit(vDirty) > 0, "q140: the audit must see the staged bad rows")
      SnapshotStore.abandon(spark, path, vDirty)
      val stagedDirs = Option(new java.io.File(path, "data").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName == s"c$vDirty" || f.getName.startsWith(s"c$vDirty-"))
      require(stagedDirs.isEmpty,
        "q140: abandon must reclaim every per-attempt staged data directory")
      // clean batch: stages, audits green, publishes atomically
      val clean = docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("source", lit("staged"))
      val vClean = SnapshotStore.stageAppend(spark, clean, path)
      require(SnapshotStore.versions(spark, path) == Seq(1L),
        "q140: still nothing published before the audit passes")
      require(audit(vClean) == 0, "q140: the clean batch must audit green")
      SnapshotStore.publish(spark, path, vClean)
      require(SnapshotStore.versions(spark, path) == Seq(1L, vClean),
        "q140: publish must commit exactly the audited version")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** The final table: the corpus plus the audited clean batch, once. */
  val q140Sql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text, lang, 'staged', n_chars FROM documents
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  /** Q141 — AUTOMATIC ZONE-MAP PRUNING IN THE PLANNER, scored: the table
    * reads through [[graft.operators.SnapshotStore.readRelation]] (a
    * [[graft.plans.SnapshotFileIndex]]-backed relation), and a PLAIN
    * `.filter(between)` — no hint, no special scan API — prunes to the
    * files whose manifest [min,max] overlap the range: Catalyst hands the
    * scan's data filters to the FileIndex at planning, disjoint files
    * never reach the reader, and the listing is synthesized from the
    * manifest with zero filesystem RPCs. The require pins the physical
    * fact post-execution: the scan's `numFiles` metric must be strictly
    * below the table's file count. The oracle runs the same range over
    * the full table — wrong pruning is missing rows, not silence. This is
    * the 100 TB read path: planner-side metadata pruning first, parquet
    * row-group stats second, and the query text never knows. */
  def q141AutoPrune(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q141_") { path =>
      SnapshotStore.create(spark, t(spark, dir, "orders"), path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      val res = orderCols(SnapshotStore.readRelation(spark, path)
        .filter(col("o_orderkey").between(200, 399)))
      val out = Materialize.sorted(res, col("o_orderkey"))
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty, "q141: expected a FileSourceScanExec over the snapshot")
      val numFiles = scans.head.metrics("numFiles").value
      require(numFiles > 0 && numFiles < 8,
        s"q141: the planner must prune files via the manifest (scanned $numFiles of 8)")
      out
    }

  /** The same range over the full table — wrong pruning = missing rows. */
  val q141Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority
      |FROM orders WHERE o_orderkey BETWEEN 200 AND 399
      |ORDER BY o_orderkey""".stripMargin

  /** Q142 — Z-ORDER COMPACTION with two-dimensional pruning, scored: the
    * table compacts under `zOrderBy(o_orderkey, o_custkey)` (VALUE-based
    * normalization from the manifest's own global [min,max] — each column
    * maps to 8 bits and the bits interleave; no rank pass, no window —
    * see the compact scaladoc for the value-vs-rank trade), so each of
    * the 16 files holds a small RECTANGLE
    * of the 2-D key space and the manifest zone map is tight in BOTH
    * columns. The require pins the payoff physically: a plain filter on
    * o_orderkey AND a plain filter on o_custkey — two different columns —
    * each scan strictly fewer than all files through the automatic
    * FileIndex prune (linear clustering can only ever give one of the
    * two). The oracle replays both slabs over the original table. The
    * slab bounds derive from the manifest's own stats (max/8), so the
    * gate is scale-factor-independent. */
  def q142ZorderCompact(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q142_") { path =>
      SnapshotStore.create(spark, t(spark, dir, "orders"), path,
        statsColumns = Seq("o_orderkey", "o_custkey"), numFiles = 16)
      val es1 = SnapshotStore.entries(spark, path, 1)
      SnapshotStore.compact(spark, path,
        targetFileBytes = es1.map(_.bytes).sum / 16 + 1,
        zOrderBy = Seq("o_orderkey", "o_custkey"))
      val es2 = SnapshotStore.entries(spark, path, 2)
      val nFiles = es2.size
      require(nFiles >= 8, s"q142: expected >=8 z-ordered files, got $nFiles")
      val maxK = es2.flatMap(_.stats.get("o_orderkey")).map(s => BigDecimal(s.hi)).max.toLong
      val maxC = es2.flatMap(_.stats.get("o_custkey")).map(s => BigDecimal(s.hi)).max.toLong
      val rel = SnapshotStore.readRelation(spark, path)
      def filesScanned(df: DataFrame): Long = {
        df.collect() // execute THIS plan so its scan metrics populate
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head.metrics("numFiles").value
      }
      val dfK = rel.filter(col("o_orderkey") < lit(maxK / 8))
      val dfC = rel.filter(col("o_custkey") < lit(maxC / 8))
      val (fk, fc) = (filesScanned(dfK), filesScanned(dfC))
      require(fk < nFiles && fc < nFiles,
        s"q142: z-order must prune BOTH dimensions (orderkey $fk, custkey $fc of $nFiles)")
      val out = orderCols(dfK).withColumn("dim", lit("k"))
        .unionByName(orderCols(dfC).withColumn("dim", lit("c")))
      Materialize.sorted(out, col("dim"), col("o_orderkey"), col("o_custkey"))
    }

  /** Q143 — STREAM-SNAPSHOT ENRICHMENT under a mid-stream dimension
    * correction, scored: micro-batch A joins the user dimension at
    * version 1 (everyone `old`); a copy-on-write dimension update lands
    * (users < 50 become `new`) WHILE THE STREAM'S CHECKPOINT LIVES ON;
    * micro-batch B then joins version 2 — no restart, no half-updated
    * directory, each batch one consistent committed snapshot via the
    * lock-free reader. The oracle states the join-time semantics
    * declaratively: an event's enrichment depends on WHICH BATCH carried
    * it. This is the dimension-refresh pattern a 100 TB streaming
    * pipeline runs daily — the snapshot substrate is what makes the
    * refresh atomic under a live stream. */
  def q143StreamSnapshotJoin(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q143_") { path =>
      val base = new java.io.File(path).getParentFile
      val landing = new java.io.File(base, "landing").getAbsolutePath
      val out = new java.io.File(base, "out").getAbsolutePath
      val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
      val ev = t(spark, dir, "events").select(col("event_id"), col("user_id"))
      val dim = ev.select(col("user_id")).distinct().withColumn("status", lit("old"))
      SnapshotStore.create(spark, dim, path, statsColumns = Seq("user_id"))
      // batch A: drained against dim v1
      ev.filter(pmod(col("event_id"), lit(2)) === 0).coalesce(1).write.json(landing)
      graft.streaming.EventStreams.enrichAgainstSnapshotStream(
        spark, landing, path, out, ckpt)
      // the dimension correction lands mid-stream (checkpoint untouched)
      SnapshotStore.updateWhere(spark, path,
        col("user_id") < 50, Map("status" -> lit("new")),
        hint = Some(RangeHint("user_id", "0", "49")))
      // batch B: the SAME stream lineage drains it against dim v2
      ev.filter(pmod(col("event_id"), lit(2)) === 1).coalesce(1)
        .write.mode("append").json(landing)
      graft.streaming.EventStreams.enrichAgainstSnapshotStream(
        spark, landing, path, out, ckpt)
      Materialize.sorted(spark.read.parquet(out), col("event_id"))
    }

  /** Q144 — TABLE HISTORY, scored: after the shared lifecycle (create,
    * two dedup appends with a full re-delivery folded inside, delete),
    * [[graft.operators.SnapshotStore.history]] reads the audit trail
    * lock-free from the commit markers alone — no data I/O. The oracle is
    * the literal expected trail, which is exactly the point: the version
    * history IS the true operation history (the re-delivered batch left
    * no version, an aborted commit would leave no marker), so the audit
    * answer is a deterministic fact, not a log heuristic. */
  def q144TableHistory(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q144_") { path =>
      buildDocsTable(spark, dir, path)
      Materialize.sorted(SnapshotStore.history(spark, path), col("version"))
    }

  /** The literal expected trail — create, two keyed appends, delete. */
  val q144Sql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'create', CAST(0 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'append_dedup', CAST(1 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'append_dedup', CAST(2 AS BIGINT)),
      |  (CAST(4 AS BIGINT), 'delete', CAST(3 AS BIGINT))
      |) AS t(version, op, parent) ORDER BY version""".stripMargin

  /** Q145 — TIME TRAVEL THROUGH THE PUBLIC FORMAT API, scored: the same
    * lifecycle and vacuum as q130, but the pinned version reads through
    * `spark.read.format("graft-snapshot").option("versionAsOf", 3)` — the
    * Delta/Iceberg-style surface a migrating user reaches for first —
    * hash-equal to the helper-API form (same oracle as q130). The require
    * gates pin the format contract: timestampAsOf resolves the current
    * head by commit instant, versionAsOf+timestampAsOf together refuse,
    * and a vacuumed-out version refuses loudly through the format too.
    * The relation is [[graft.plans.SnapshotFileIndex]]-backed, so this
    * surface inherits the whole zone-map read path (q146 pins that). */
  def q145FormatTimeTravel(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q145_") { path =>
      buildDocsTable(spark, dir, path)
      SnapshotStore.vacuum(spark, path, keepVersions = 3)
      val byVersion = spark.read.format("graft-snapshot")
        .option("versionAsOf", 3).load(path)
      // timestampAsOf at "now" resolves the head (all commits are past)
      val byTs = spark.read.format("graft-snapshot")
        .option("timestampAsOf", System.currentTimeMillis().toString).load(path)
      require(byTs.count() == SnapshotStore.read(spark, path).count(),
        "q145: timestampAsOf(now) must resolve the current head")
      require(scala.util.Try(spark.read.format("graft-snapshot")
        .option("versionAsOf", 3).option("timestampAsOf", "0").load(path)).isFailure,
        "q145: versionAsOf + timestampAsOf together must refuse")
      require(scala.util.Try(spark.read.format("graft-snapshot")
        .option("versionAsOf", 1).load(path).count()).isFailure,
        "q145: a vacuumed-out version must refuse through the format API")
      Materialize.sorted(byVersion, col("doc_id"))
    }

  /** Same oracle as q130: version 3 is the complete pre-delete corpus. */
  val q145Sql: String = q130Sql

  /** Q146 — AUTOMATIC ZONE-MAP PRUNING THROUGH THE FORMAT API, scored:
    * q141's physical contract (a plain `.filter(between)` scans strictly
    * fewer files than the table holds, with the listing synthesized from
    * the manifest) holds for `spark.read.format("graft-snapshot")` — the
    * scan's post-execution `numFiles` metric is require'd below the file
    * count, and the oracle re-runs the range over the full table. One
    * relation serves both the helper and format surfaces, so the 100 TB
    * read path (manifest prune → row-group stats → codegen) is what every
    * API gets. */
  def q146FormatPrune(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q146_") { path =>
      SnapshotStore.create(spark, t(spark, dir, "orders"), path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      val res = orderCols(spark.read.format("graft-snapshot").load(path)
        .filter(col("o_orderkey").between(200, 399)))
      val out = Materialize.sorted(res, col("o_orderkey"))
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty, "q146: expected a FileSourceScanExec via the format API")
      val numFiles = scans.head.metrics("numFiles").value
      require(numFiles > 0 && numFiles < 8,
        s"q146: the format read must prune via the manifest (scanned $numFiles of 8)")
      out
    }

  /** Same oracle as q141: the range over the full table. */
  val q146Sql: String = q141Sql

  /** Q147 — MERGE-ON-READ DELETE (the deletion-vector analog), scored: a
    * SCATTERED predicate (lang = 'de' — matching rows in many of the 8
    * range-clustered files) deletes by committing ONE tombstone delta; no
    * data file is rewritten or even named. The require gates pin the cost
    * model physically against a copy-on-write TWIN table running the same
    * delete: MoR carries every data file by reference and writes strictly
    * fewer bytes than CoW rewrites (the recorded write-amplification
    * comparison); the resurrection law (an identical row appended later
    * lands in a NEW file and lives — tombstones are file-scoped); MoR and
    * CoW reads are row-identical through the rest of the lifecycle; and
    * the compaction law — compact folds EVERY tombstone away, after which
    * the pure-file format API reads the table again. The oracle replays
    * delete + re-append declaratively. At 100 TB: one matching row in
    * each of 10⁴ files costs one tombstone file here vs 10⁴ full-file
    * rewrites under CoW. */
  def q147MorDelete(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q147_") { path =>
      val cowPath = path + "_cow"
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      val pred = col("lang") === "de"
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      SnapshotStore.create(spark, docs, cowPath,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      SnapshotStore.deleteWhereMoR(spark, path, pred)
      SnapshotStore.deleteWhere(spark, cowPath, pred)
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      val v2 = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      require(v1 == v2, "q147: MoR delete must carry EVERY data file by reference")
      val tombs = SnapshotStore.tombstoneEntries(spark, path, 2)
      require(tombs.nonEmpty, "q147: the delete must have committed a tombstone")
      // write amplification, recorded: tombstone bytes ≪ CoW's rewrites
      val cow1 = SnapshotStore.entries(spark, cowPath, 1).map(_.path).toSet
      val cowWritten = SnapshotStore.entries(spark, cowPath, 2)
        .filterNot(e => cow1.contains(e.path))
      require(cowWritten.nonEmpty, "q147: precondition — CoW rewrote files")
      val morBytes = tombs.map(_.bytes).sum
      val cowBytes = cowWritten.map(_.bytes).sum
      require(morBytes < cowBytes,
        s"q147: MoR must write fewer bytes than CoW rewrites " +
          s"($morBytes vs $cowBytes)")
      // resurrection law: identical rows re-appended live in NEW files
      val back = docs.filter(pred && pmod(col("doc_id"), lit(2)) === 0)
      SnapshotStore.append(spark, back, path)
      SnapshotStore.append(spark, back, cowPath)
      val morRows = SnapshotStore.read(spark, path)
        .orderBy(docCols.map(col): _*).collect().toSeq
      val cowRows = SnapshotStore.read(spark, cowPath)
        .orderBy(docCols.map(col): _*).collect().toSeq
      require(morRows == cowRows,
        "q147: MoR and CoW must read row-identically through the lifecycle")
      // the format API stays CORRECT over live tombstones: the provider
      // serves the RESOLVED relation mid-lifecycle (anti-join plan behind
      // the same format string — no dark window between a MoR write and
      // the next compaction), row-equal to the helper read
      val viaFormatMid = spark.read.format("graft-snapshot").load(path)
        .orderBy(docCols.map(col): _*).collect().toSeq
      require(viaFormatMid == morRows,
        "q147: the format read must resolve live tombstones row-identically")
      SnapshotStore.compact(spark, path,
        SnapshotStore.entries(spark, path, 3).map(_.bytes).sum / 4 + 1)
      val curV = SnapshotStore.currentVersion(spark, path)
      require(SnapshotStore.tombstoneEntries(spark, path, curV).isEmpty,
        "q147: compaction must fold every tombstone away")
      val viaFormat = spark.read.format("graft-snapshot").load(path)
      require(viaFormat.count() == morRows.size,
        "q147: post-compact format read must see the resolved rows")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Delete + re-append replayed declaratively. */
  val q147Sql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE lang IS DISTINCT FROM 'de'
      |UNION ALL
      |SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE lang = 'de' AND doc_id % 2 = 0
      |ORDER BY doc_id""".stripMargin

  /** Q148 — SNAPSHOT CDC AS A STREAMING SOURCE, scored under full
    * crash-replay: the shared lifecycle commits v1..v4, and
    * [[graft.streaming.EventStreams.snapshotCdcStream]] SUBSCRIBES — the
    * commit markers are the event log, each version folds exactly once
    * into a maintained per-lang aggregate living on its own snapshot
    * table (q138's IVM algebra, no polling). A later delete (v5) lands
    * mid-lineage and the SAME checkpoint drains just that delta. The
    * require gates pin exactly-once end to end: the delta-folded MV is
    * row-equal to a direct aggregate of the current table, and a FULL
    * redelivery from a fresh checkpoint (every marker again — the worst
    * crash) is a version-level no-op on the MV table thanks to the
    * in-row `as_of_version` high-water mark committed atomically with
    * the data. This is the push form of q137/q138: a downstream MV at
    * 100 TB follows the table paying churn-sized reads per version, with
    * no coordinator and no re-scan. */
  def q148CdcStream(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q148_") { path =>
      val base = new java.io.File(path).getParentFile
      val mvPath = new java.io.File(base, "mv").getAbsolutePath
      val ckpt1 = new java.io.File(base, "ckpt1").getAbsolutePath
      val ckpt2 = new java.io.File(base, "ckpt2").getAbsolutePath
      buildDocsTable(spark, dir, path) // v1..v4 (v4 deletes 'de')
      graft.streaming.EventStreams.snapshotCdcStream(spark, path, mvPath, ckpt1)
      // a later commit: the SAME lineage folds only the new delta
      SnapshotStore.deleteWhere(spark, path, col("lang") === "zh")
      graft.streaming.EventStreams.snapshotCdcStream(spark, path, mvPath, ckpt1)
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
      val mv = SnapshotStore.read(spark, mvPath)
        .filter(col("n_docs") > 0L)
        .select(col("lang"), col("n_docs"), col("sum_chars"))
      val direct = aggOf(SnapshotStore.read(spark, path))
      require(mv.orderBy(col("lang")).collect().toSeq ==
        direct.orderBy(col("lang")).collect().toSeq,
        "q148: the subscribed fold must equal the direct aggregate exactly")
      // full crash-replay: every marker redelivered from a fresh checkpoint
      val mvVersions = SnapshotStore.versions(spark, mvPath)
      graft.streaming.EventStreams.snapshotCdcStream(spark, path, mvPath, ckpt2)
      require(SnapshotStore.versions(spark, mvPath) == mvVersions,
        "q148: full redelivery must be a version-level no-op on the MV")
      Materialize.sorted(mv, col("lang"))
    }

  /** The maintained aggregate recomputed from the original table. */
  val q148Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang IS DISTINCT FROM 'de' AND lang IS DISTINCT FROM 'zh'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q149 — THE FORMAT WRITE PATH, scored: the whole ingest story of q129
    * driven through `df.write.format("graft-snapshot")` — create with
    * zone-map/cluster options, keyed idempotent append (`dedupKeys`
    * option: the re-delivered slice folds to nothing extra), plain
    * append, SaveMode.ErrorIfExists refusing, SaveMode.Ignore no-opping —
    * plus an atomic SaveMode.Overwrite on a twin table whose prior
    * version stays time-travelable. The require gates pin that every
    * SaveMode maps onto the store's atomic commit protocol (exact version
    * trail; overwrite is ONE commit; creation options flowed — the format
    * read proves the zone map prunes). The oracle: every document exactly
    * once. A migrating user's write-side instinct now works unchanged. */
  def q149FormatWrite(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q149_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      def slice(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      slice(0).write.format("graft-snapshot")
        .option("statsColumns", "doc_id").option("clusterBy", "doc_id")
        .option("numFiles", "4").save(path)
      // keyed idempotent append: slice 0 re-delivered alongside slice 1
      slice(0).union(slice(1)).write.format("graft-snapshot")
        .mode("append").option("dedupKeys", "doc_id").save(path)
      slice(2).write.format("graft-snapshot").mode("append").save(path)
      require(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L),
        s"q149: expected versions 1..3, got ${SnapshotStore.versions(spark, path)}")
      require(scala.util.Try(slice(0).write.format("graft-snapshot")
        .mode("error").save(path)).isFailure,
        "q149: SaveMode.ErrorIfExists must refuse an existing table")
      slice(0).write.format("graft-snapshot").mode("ignore").save(path)
      require(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L),
        "q149: SaveMode.Ignore must be a true no-op on an existing table")
      // atomic overwrite on a twin: one commit, prior version travelable
      val p2 = path + "_ow"
      slice(0).write.format("graft-snapshot").save(p2)
      slice(1).write.format("graft-snapshot").mode("overwrite").save(p2)
      require(SnapshotStore.versions(spark, p2) == Seq(1L, 2L),
        "q149: overwrite must be exactly one atomic commit")
      require(SnapshotStore.readVersion(spark, p2, 1).count() == slice(0).count(),
        "q149: the pre-overwrite version must stay time-travelable")
      require(SnapshotStore.read(spark, p2).count() == slice(1).count(),
        "q149: the overwritten contents must be exactly the batch")
      // the creation options flowed: a ranged format read prunes files
      val total = SnapshotStore.entries(spark, path,
        SnapshotStore.currentVersion(spark, path)).size
      val ranged = spark.read.format("graft-snapshot").load(path)
        .filter(col("doc_id").between(0, 49))
      ranged.collect(): Unit
      val scanned = ranged.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
      require(scanned < total,
        s"q149: statsColumns/clusterBy must have flowed ($scanned of $total scanned)")
      Materialize.sorted(
        spark.read.format("graft-snapshot").load(path), col("doc_id"))
    }

  /** Every document exactly once, despite the re-delivered slice. */
  val q149Sql: String = q130Sql

  /** Q150 — THE SQL/CATALOG SURFACE, scored: q129's whole ingest story
    * driven ENTIRELY through `spark.sql` over a NAMED catalog table —
    * CTAS (`CREATE TABLE … USING graft-snapshot AS SELECT`), the
    * reference's ON-CONFLICT idempotent append spelled as SQL
    * (`INSERT INTO … WHERE NOT EXISTS`, reading the target's own
    * committed snapshot — safe only because readers are snapshot-
    * isolated), and the delete as an atomic `INSERT OVERWRITE … SELECT
    * FROM itself`. The require gates pin that every SQL write landed as
    * ONE versioned commit (exact version/op trail), that the stock
    * direct-file INSERT path was rerouted (NO unreferenced parquet next
    * to `_snapshots/` — the silent-loss hazard
    * [[graft.plans.SnapshotInsertRule]] closes), and that `spark.table`
    * serves the same rows. The oracle is q129's: every document exactly
    * once, minus the deleted language. A migrating warehouse user's SQL
    * instinct now works against the snapshot substrate unchanged. */
  def q150SqlCatalog(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q150_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      docs.createOrReplaceTempView("docs_q150")
      spark.sql("DROP TABLE IF EXISTS g150")
      try {
        spark.sql("CREATE TABLE g150 USING `graft-snapshot` " +
          s"OPTIONS (path '$path') AS SELECT * FROM docs_q150 WHERE doc_id % 3 = 0")
        // the reference's ON CONFLICT DO NOTHING, in SQL: slice 0 is
        // re-delivered alongside slice 1 and folds away via NOT EXISTS
        // against the target's own committed snapshot
        spark.sql("INSERT INTO g150 SELECT * FROM docs_q150 src " +
          "WHERE doc_id % 3 <= 1 AND NOT EXISTS " +
          "(SELECT 1 FROM g150 t WHERE t.doc_id = src.doc_id)")
        spark.sql("INSERT INTO g150 SELECT * FROM docs_q150 WHERE doc_id % 3 = 2")
        // the delete, as one atomic replace commit over the table itself
        spark.sql("INSERT OVERWRITE g150 " +
          "SELECT * FROM g150 WHERE lang IS DISTINCT FROM 'de'")
        require(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L, 4L),
          s"q150: expected versions 1..4, got ${SnapshotStore.versions(spark, path)}")
        val ops = SnapshotStore.history(spark, path)
          .orderBy(col("version")).collect().map(_.getString(1)).toSeq
        require(ops == Seq("create", "append", "append", "overwrite"),
          s"q150: SQL writes must map onto atomic commits, got $ops")
        // the silent-loss hazard is closed: no stray parquet in the root
        // (stock Spark would have written the INSERT there, unreferenced)
        val stray = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        require(stray.isEmpty,
          s"q150: INSERT must commit through the manifest, found stray ${stray.toSeq}")
        require(spark.table("g150").count() ==
          spark.sql("SELECT * FROM g150").count(),
          "q150: spark.table must serve the same relation")
        Materialize.sorted(spark.sql(
          "SELECT doc_id, text, lang, source, n_chars FROM g150"), col("doc_id"))
      } finally {
        spark.sql("DROP TABLE IF EXISTS g150")
        spark.catalog.dropTempView("docs_q150"): Unit
      }
    }

  /** Same oracle as q129: each document once, minus the deleted lang. */
  val q150Sql: String = q129Sql

  /** Q151 — SQL TIME TRAVEL (`VERSION AS OF` / `TIMESTAMP AS OF`), scored:
    * the q150 lifecycle again, then version 3 — the last pre-delete state
    * — read as `SELECT … FROM g151 VERSION AS OF 3` (stock Spark refuses
    * time travel on any V1 table; [[graft.plans.SnapshotTimeTravelRule]]
    * intercepts the parsed node BEFORE the stock refusal and splices the
    * manifest-resolved relation). The require gates pin the SQL-surface
    * contract: `TIMESTAMP AS OF` a post-lifecycle instant resolves the
    * current head (one marker-read pass), and `VERSION AS OF` a never-
    * committed version refuses loudly through SQL too. Oracle: q130's —
    * version 3 is the complete corpus. */
  def q151SqlTimeTravel(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q151_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      docs.createOrReplaceTempView("docs_q151")
      spark.sql("DROP TABLE IF EXISTS g151")
      try {
        spark.sql("CREATE TABLE g151 USING `graft-snapshot` " +
          s"OPTIONS (path '$path') AS SELECT * FROM docs_q151 WHERE doc_id % 3 = 0")
        spark.sql("INSERT INTO g151 SELECT * FROM docs_q151 src " +
          "WHERE doc_id % 3 <= 1 AND NOT EXISTS " +
          "(SELECT 1 FROM g151 t WHERE t.doc_id = src.doc_id)")
        spark.sql("INSERT INTO g151 SELECT * FROM docs_q151 WHERE doc_id % 3 = 2")
        spark.sql("INSERT OVERWRITE g151 " +
          "SELECT * FROM g151 WHERE lang IS DISTINCT FROM 'de'")
        // TIMESTAMP AS OF "now" (all commits are in the past) = the head
        val nowIso = java.time.Instant.now().toString
        require(spark.sql(
          s"SELECT count(*) FROM g151 TIMESTAMP AS OF '$nowIso'").head.getLong(0) ==
          spark.table("g151").count(),
          "q151: TIMESTAMP AS OF now must resolve the current head")
        require(scala.util.Try(spark.sql(
          "SELECT count(*) FROM g151 VERSION AS OF 99").head).isFailure,
          "q151: VERSION AS OF an uncommitted version must refuse through SQL")
        Materialize.sorted(spark.sql(
          "SELECT doc_id, text, lang, source, n_chars FROM g151 VERSION AS OF 3"),
          col("doc_id"))
      } finally {
        spark.sql("DROP TABLE IF EXISTS g151")
        spark.catalog.dropTempView("docs_q151"): Unit
      }
    }

  /** Same oracle as q130: version 3 is the complete pre-delete corpus. */
  val q151Sql: String = q130Sql

  /** Q152 — ZONE-MAP PRUNING THROUGH THE SQL SURFACE, scored: q141's
    * physical contract for a table created WITH OPTIONS in SQL (the
    * creation options — statsColumns/clusterBy/numFiles — flow through
    * CTAS into the store) and range-scanned by NAME via `spark.sql`: the
    * scan's post-execution `numFiles` metric is require'd strictly below
    * the table's file count. One relation serves the helper, format, and
    * SQL surfaces — the 100 TB read path is what every API gets. */
  def q152SqlPrune(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q152_") { path =>
      t(spark, dir, "orders").createOrReplaceTempView("orders_q152")
      spark.sql("DROP TABLE IF EXISTS g152")
      try {
        spark.sql("CREATE TABLE g152 USING `graft-snapshot` OPTIONS (" +
          s"path '$path', statsColumns 'o_orderkey', clusterBy 'o_orderkey', " +
          "numFiles '8') AS SELECT * FROM orders_q152")
        require(SnapshotStore.entries(spark, path, 1).size == 8,
          "q152: creation options must flow through CTAS")
        val res = orderCols(spark.sql(
          "SELECT * FROM g152 WHERE o_orderkey BETWEEN 200 AND 399"))
        val out = Materialize.sorted(res, col("o_orderkey"))
        val scans = res.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.nonEmpty, "q152: expected a FileSourceScanExec via SQL")
        val numFiles = scans.head.metrics("numFiles").value
        require(numFiles > 0 && numFiles < 8,
          s"q152: the SQL read must prune via the manifest (scanned $numFiles of 8)")
        out
      } finally {
        spark.sql("DROP TABLE IF EXISTS g152")
        spark.catalog.dropTempView("orders_q152"): Unit
      }
    }

  /** Same oracle as q141: the range over the full table. */
  val q152Sql: String = q141Sql

  /** Q153 — THE CHANGE FEED AS A PUBLIC STREAMING SOURCE, scored: q148's
    * exactly-once IVM story with the per-lang fold written as USER CODE
    * over `spark.readStream.format("graft-snapshot")
    * .option("readChangeFeed", true)` — raw `(row…, _change_type,
    * _commit_version)` rows from [[graft.sources.v2.SnapshotCdcSource]],
    * no engine helper in the fold. The require gates pin the public
    * contract end to end: the folded MV equals a direct aggregate; a
    * later commit drains incrementally on the SAME checkpoint; a FULL
    * redelivery from a fresh checkpoint is a version-level no-op on the
    * MV (the in-row `as_of_version` high-water mark); and after a vacuum
    * ages versions out from under a new subscription, the source refuses
    * LOUDLY through the public API (non-contiguous history must never
    * silently skip deltas). At 100 TB each micro-batch reads manifest-
    * diff-sized deltas — the consumer never re-scans the table. */
  def q153CdcSource(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q153_") { path =>
      val base = new java.io.File(path).getParentFile
      val mvPath = new java.io.File(base, "mv").getAbsolutePath
      def ckpt(i: Int) = new java.io.File(base, s"ckpt$i").getAbsolutePath
      buildDocsTable(spark, dir, path) // v1..v4 (v4 deletes 'de')
      // ---- user-side consumer over the PUBLIC source ----
      def drain(checkpointDir: String): Unit =
        Drain.batches(spark.readStream.format("graft-snapshot")
          .option("readChangeFeed", "true").option("startingVersion", 1)
          .load(path), checkpointDir) { (batch, _) =>
          val s = batch.sparkSession
          val b = batch.localCheckpoint(true) // read 2×: mark probe + fold
          val marks = b.agg(max(col("_commit_version"))).head
          if (!marks.isNullAt(0)) {
            val hi = marks.getLong(0)
            val applied =
              if (SnapshotStore.versions(s, mvPath).isEmpty) 0L
              else SnapshotStore.read(s, mvPath)
                .agg(max(col("as_of_version"))).head.getLong(0)
            // the high-water mark makes any replay a no-op at the
            // version level — the redelivered rows fold to nothing
            val fresh = b.filter(col("_commit_version") > applied)
            if (hi > applied) {
              val sign = when(col("_change_type") === "insert", 1L)
                .otherwise(-1L)
              val d = fresh.groupBy(col("lang"))
                .agg(sum(sign).as("d_n"), sum(sign * col("n_chars")).as("d_chars"))
              val prev =
                if (applied == 0L) d.select(col("lang"),
                  lit(0L).as("n_docs"), lit(0L).as("sum_chars")).limit(0)
                else SnapshotStore.read(s, mvPath)
                  .select(col("lang"), col("n_docs"), col("sum_chars"))
              val mv = prev.join(d, Seq("lang"), "full_outer")
                .select(col("lang"),
                  (coalesce(col("n_docs"), lit(0L)) +
                    coalesce(col("d_n"), lit(0L))).as("n_docs"),
                  (coalesce(col("sum_chars"), lit(0L)) +
                    coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
                .withColumn("as_of_version", lit(hi))
              if (SnapshotStore.versions(s, mvPath).isEmpty)
                SnapshotStore.create(s, mv, mvPath, owner = Some(checkpointDir))
              else SnapshotStore.merge(s, mv, mvPath,
                keys = Seq("lang"), tieBreak = Nil, owner = Some(checkpointDir))
              ()
            }
          }
        }
      drain(ckpt(1))
      // a later commit: the SAME lineage folds only the new delta
      SnapshotStore.deleteWhere(spark, path, col("lang") === "zh")
      drain(ckpt(1))
      val mv = SnapshotStore.read(spark, mvPath)
        .filter(col("n_docs") > 0L)
        .select(col("lang"), col("n_docs"), col("sum_chars"))
      val direct = SnapshotStore.read(spark, path).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      require(mv.orderBy(col("lang")).collect().toSeq ==
        direct.orderBy(col("lang")).collect().toSeq,
        "q153: the public-feed fold must equal the direct aggregate exactly")
      // full crash-replay from a fresh checkpoint: version-level no-op
      val mvVersions = SnapshotStore.versions(spark, mvPath)
      drain(ckpt(2))
      require(SnapshotStore.versions(spark, mvPath) == mvVersions,
        "q153: full redelivery must be a version-level no-op on the MV")
      // the refusal law THROUGH the public API: vacuum ages v1..v3 out,
      // and a brand-new subscription from version 1 must refuse loudly
      SnapshotStore.vacuum(spark, path, keepVersions = 2)
      require(scala.util.Try(drain(ckpt(3))).isFailure,
        "q153: a vacuumed-away range must refuse through the source API")
      Materialize.sorted(mv, col("lang"))
    }

  /** Same oracle as q148: the aggregate minus both deleted languages. */
  val q153Sql: String = q148Sql

  /** Q154 — MERGE-ON-READ UPDATE (the q147 cost model for updates),
    * scored: a SCATTERED update (every 100th key — matching rows in ALL
    * 8 range-clustered files) commits ONE tombstone (the old images) plus
    * the new images as fresh files; no data file is rewritten, and the
    * require pins the write-amplification ratio against a copy-on-write
    * TWIN running the same update (CoW rewrites all 8 files; MoR writes
    * ~1% of the rows twice). Reads stay row-identical to CoW through the
    * lifecycle; compaction folds the tombstones away, after which the
    * zero-overhead format read serves the table again; version 1 still
    * time-travels to the pre-update state. The oracle replays the update
    * declaratively. At 100 TB a scattered one-column correction is THE
    * case where CoW explodes — this is its bounded-cost twin. */
  def q154MorUpdate(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q154_") { path =>
      val cowPath = path + "_cow"
      val o = t(spark, dir, "orders")
      val pred = pmod(col("o_orderkey"), lit(100)) === 0
      val set = Map("o_orderpriority" -> lit("0-REWRITTEN"))
      SnapshotStore.create(spark, o, path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      SnapshotStore.create(spark, o, cowPath,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      SnapshotStore.updateWhereMoR(spark, path, pred, set)
      SnapshotStore.updateWhere(spark, cowPath, pred, set)
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      val v2e = SnapshotStore.entries(spark, path, 2)
      require(v1.subsetOf(v2e.map(_.path).toSet),
        "q154: MoR update must carry EVERY prior data file by reference")
      val tombs = SnapshotStore.tombstoneEntries(spark, path, 2)
      require(tombs.nonEmpty, "q154: the update must have committed a tombstone")
      val morBytes = tombs.map(_.bytes).sum +
        v2e.filterNot(e => v1.contains(e.path)).map(_.bytes).sum
      val cow1 = SnapshotStore.entries(spark, cowPath, 1).map(_.path).toSet
      val cowBytes = SnapshotStore.entries(spark, cowPath, 2)
        .filterNot(e => cow1.contains(e.path)).map(_.bytes).sum
      require(morBytes < cowBytes,
        s"q154: scattered MoR update must write fewer bytes than CoW " +
          s"rewrites ($morBytes vs $cowBytes)")
      val morRows = SnapshotStore.read(spark, path)
        .orderBy(col("o_orderkey")).collect().toSeq
      require(morRows == SnapshotStore.read(spark, cowPath)
        .orderBy(col("o_orderkey")).collect().toSeq,
        "q154: MoR and CoW updates must read row-identically")
      // compaction folds the tombstones; the format read serves it again;
      // version 1 still reads the pre-update state
      SnapshotStore.compact(spark, path,
        SnapshotStore.entries(spark, path, 2).map(_.bytes).sum / 4 + 1)
      require(SnapshotStore.tombstoneEntries(spark, path,
        SnapshotStore.currentVersion(spark, path)).isEmpty,
        "q154: compaction must fold every tombstone away")
      require(spark.read.format("graft-snapshot").load(path).count() == morRows.size,
        "q154: post-compact format read must see the resolved rows")
      require(SnapshotStore.readVersion(spark, path, 1)
        .filter(col("o_orderpriority") === "0-REWRITTEN").count() == 0,
        "q154: version 1 must still read the pre-update state")
      Materialize.sorted(orderCols(SnapshotStore.read(spark, path)), col("o_orderkey"))
    }

  /** The scattered update replayed declaratively. */
  val q154Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  CASE WHEN o_orderkey % 100 = 0 THEN '0-REWRITTEN' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Q155 — MERGE-ON-READ MERGE (upsert), scored: a batch of SCATTERED
    * updates (every 100th key, shipped twice — the survivor rule must
    * collapse them) plus fresh inserts lands as ONE tombstone file (the
    * matched keys' old rows) plus the batch's files — one atomic commit,
    * zero data-file rewrites (require'd: every prior file carried by
    * reference, vs the CoW twin rewriting ALL 8 files for the same
    * batch, with the byte amplification recorded). MoR and CoW merges
    * read row-identically; compaction folds the tombstones away. The
    * oracle replays the merge declaratively. This closes the MoR story:
    * delete (q147), update (q154), merge (q155) — every row-level op now
    * has both cost models, chosen per workload. */
  def q155MorMerge(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q155_") { path =>
      val cowPath = path + "_cow"
      val o = t(spark, dir, "orders")
      SnapshotStore.create(spark, o, path,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      SnapshotStore.create(spark, o, cowPath,
        statsColumns = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"), numFiles = 8)
      val hit = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
      val updates = hit
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .withColumn("o_orderpriority", lit("0-MERGED"))
      val inserts = hit.select(
        (col("o_orderkey") + lit(200000L)).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        lit("0-INSERTED").as("o_orderpriority"))
      val batch = updates.unionByName(inserts).unionByName(updates)
      SnapshotStore.mergeMoR(spark, batch, path, keys = Seq("o_orderkey"), tieBreak = Nil)
      SnapshotStore.merge(spark, batch, cowPath, keys = Seq("o_orderkey"), tieBreak = Nil)
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      val v2e = SnapshotStore.entries(spark, path, 2)
      require(v1.subsetOf(v2e.map(_.path).toSet),
        "q155: MoR merge must carry EVERY prior data file by reference")
      val tombs = SnapshotStore.tombstoneEntries(spark, path, 2)
      require(tombs.nonEmpty, "q155: the merge must have committed a tombstone")
      val morBytes = tombs.map(_.bytes).sum +
        v2e.filterNot(e => v1.contains(e.path)).map(_.bytes).sum
      val cow1 = SnapshotStore.entries(spark, cowPath, 1).map(_.path).toSet
      val cowBytes = SnapshotStore.entries(spark, cowPath, 2)
        .filterNot(e => cow1.contains(e.path)).map(_.bytes).sum
      require(morBytes < cowBytes,
        s"q155: scattered MoR merge must write fewer bytes than CoW " +
          s"($morBytes vs $cowBytes)")
      val morRows = SnapshotStore.read(spark, path)
        .orderBy(col("o_orderkey")).collect().toSeq
      require(morRows == SnapshotStore.read(spark, cowPath)
        .orderBy(col("o_orderkey")).collect().toSeq,
        "q155: MoR and CoW merges must read row-identically")
      SnapshotStore.compact(spark, path,
        SnapshotStore.entries(spark, path, 2).map(_.bytes).sum / 4 + 1)
      require(SnapshotStore.tombstoneEntries(spark, path,
        SnapshotStore.currentVersion(spark, path)).isEmpty,
        "q155: compaction must fold every tombstone away")
      Materialize.sorted(orderCols(SnapshotStore.read(spark, path)), col("o_orderkey"))
    }

  /** The merge replayed declaratively: CASE WHEN updates + UNION inserts. */
  val q155Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 100 = 0 THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
      |  CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
      |    AS o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderkey % 100 = 0 THEN '0-MERGED' ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 200000, o_custkey, 'N', o_totalprice, o_orderdate,
      |  '0-INSERTED'
      |FROM orders WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Q156 — SQL ROW-LEVEL DML (`DELETE FROM` / `UPDATE … SET`), scored:
    * q133's delete+update lifecycle driven through `spark.sql` on a
    * named catalog table — stock Spark parses both statements and then
    * refuses them for any non-DSv2 table;
    * [[graft.plans.SnapshotDmlRule]] maps them onto the store's atomic
    * copy-on-write commits instead (predicates rebound by name, so the
    * store's own pruned scan evaluates them). The require gates pin the
    * command mapping (exact version/op trail) and the refusal boundary
    * (a subquery predicate cannot rebind by name and must refuse, never
    * approximate). Oracle: q133's declarative replay. */
  def q156SqlDml(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q156_") { path =>
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      docs.createOrReplaceTempView("docs_q156")
      spark.sql("DROP TABLE IF EXISTS g156")
      try {
        spark.sql("CREATE TABLE g156 USING `graft-snapshot` OPTIONS (" +
          s"path '$path', statsColumns 'doc_id', clusterBy 'doc_id', " +
          "numFiles '6') AS SELECT * FROM docs_q156")
        spark.sql("DELETE FROM g156 WHERE lang = 'de'")
        spark.sql("UPDATE g156 SET source = 'merged' WHERE lang = 'zh'")
        require(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L),
          s"q156: expected versions 1..3, got ${SnapshotStore.versions(spark, path)}")
        val ops = SnapshotStore.history(spark, path)
          .orderBy(col("version")).collect().map(_.getString(1)).toSeq
        require(ops == Seq("create", "delete", "update"),
          s"q156: SQL DML must map onto the store's atomic ops, got $ops")
        // the refusal boundary: a subquery predicate cannot rebind by
        // name — it must refuse (stock v2-only error), never approximate
        require(scala.util.Try(spark.sql(
          "DELETE FROM g156 WHERE doc_id IN (SELECT min(doc_id) FROM docs_q156)"))
          .isFailure, "q156: a subquery DELETE predicate must refuse loudly")
        Materialize.sorted(spark.sql(
          "SELECT doc_id, text, lang, source, n_chars FROM g156"), col("doc_id"))
      } finally {
        spark.sql("DROP TABLE IF EXISTS g156")
        spark.catalog.dropTempView("docs_q156"): Unit
      }
    }

  /** Same oracle as q133: delete + update replayed declaratively. */
  val q156Sql: String = q133Sql

  /** Q157 — SQL `MERGE INTO` (canonical upsert), scored: q135's
    * update+insert batch driven as `MERGE INTO … USING … ON t.k = s.k
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` —
    * the exact shape [[graft.operators.SnapshotStore.merge]] IS, mapped
    * in one atomic commit ([[graft.plans.SnapshotDmlRule]]); any other
    * clause combination refuses loudly rather than approximating (the
    * require pins that boundary with a WHEN MATCHED THEN DELETE form).
    * Copy-on-write pruning still holds through SQL: the matched keys
    * live in one of 8 range-clustered files, ≥7 carry by reference.
    * Oracle: q135's declarative replay. */
  def q157SqlMerge(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q157_") { path =>
      val o = t(spark, dir, "orders")
      o.createOrReplaceTempView("orders_q157")
      spark.sql("DROP TABLE IF EXISTS g157")
      try {
        spark.sql("CREATE TABLE g157 USING `graft-snapshot` OPTIONS (" +
          s"path '$path', statsColumns 'o_orderkey', clusterBy 'o_orderkey', " +
          "numFiles '8') AS SELECT * FROM orders_q157")
        val low = o.filter(col("o_orderkey") < 50)
        val updates = low
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
          .withColumn("o_orderpriority", lit("0-MERGED"))
        val inserts = low.select(
          (col("o_orderkey") + lit(200000L)).as("o_orderkey"), col("o_custkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          lit("0-INSERTED").as("o_orderpriority"))
        updates.unionByName(inserts).createOrReplaceTempView("src_q157")
        val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
        spark.sql("""MERGE INTO g157 USING src_q157 s
          |ON g157.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        require(SnapshotStore.versions(spark, path) == Seq(1L, 2L),
          "q157: MERGE must land as ONE atomic commit")
        val after = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
        require((before intersect after).size >= 7,
          "q157: SQL merge must keep copy-on-write file pruning")
        // the canonical-shape boundary: any other clause refuses loudly
        require(scala.util.Try(spark.sql("""MERGE INTO g157 USING src_q157 s
          |ON g157.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN DELETE""".stripMargin)).isFailure,
          "q157: non-canonical MERGE clauses must refuse loudly")
        Materialize.sorted(orderCols(spark.table("g157")), col("o_orderkey"))
      } finally {
        spark.sql("DROP TABLE IF EXISTS g157")
        spark.catalog.dropTempView("orders_q157")
        spark.catalog.dropTempView("src_q157"): Unit
      }
    }

  /** Same oracle as q135: CASE WHEN updates + UNION ALL inserts. */
  val q157Sql: String = q135Sql

  /** Q158 — TABLE METADATA AS SQL TABLE-VALUED FUNCTIONS, scored: the
    * audit surfaces a pure-SQL user needs — `DESCRIBE HISTORY` and
    * change-feed polling — spelled as the injected TVFs
    * `snapshot_history('<root>')` and `snapshot_changes('<root>', a, b)`
    * (Spark has no parser hook for new DESCRIBE forms; the TVF is the
    * standard extension spelling). The require gates pin that both are
    * REAL relations (aggregates and filters compose over them) and that
    * they answer exactly what the helper APIs answer: history is a
    * lock-free marker scan, changes reads only the manifest-diff files.
    * Oracle: the literal expected trail (q144's). */
  def q158SqlTvf(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q158_") { path =>
      buildDocsTable(spark, dir, path) // v1..v4 (v4 deletes 'de')
      val hist = spark.sql(s"SELECT * FROM snapshot_history('$path')")
      require(hist.orderBy(col("version")).collect().toSeq ==
        SnapshotStore.history(spark, path).orderBy(col("version")).collect().toSeq,
        "q158: the history TVF must answer exactly the helper API")
      // the changes TVF composes like any relation: an aggregate over the
      // v3→v4 delta (the delete) equals the helper's count
      val delSql = spark.sql(s"SELECT count(*) FROM snapshot_changes('$path', 3, 4) " +
        "WHERE change_type = 'delete'").head.getLong(0)
      val delApi = SnapshotStore.changesBetween(spark, path, 3L, 4L)
        .filter(col("change_type") === "delete").count()
      require(delSql == delApi && delSql > 0,
        s"q158: the changes TVF must answer the manifest diff ($delSql vs $delApi)")
      require(spark.sql(s"SELECT count(*) FROM snapshot_changes('$path', 3, 4) " +
        "WHERE change_type = 'insert'").head.getLong(0) == 0L,
        "q158: a pure delete's delta carries no inserts")
      Materialize.sorted(hist, col("version"))
    }

  /** Same oracle as q144: the literal expected operation trail. */
  val q158Sql: String = q144Sql

  /** Q159 — THE SNAPSHOT TABLE AS A PUBLIC STREAMING SINK, scored: q134's
    * exactly-once ingest contract behind
    * `df.writeStream.format("graft-snapshot")` — each micro-batch ONE
    * atomic versioned commit (creation options honored on the first
    * batch), keyed-idempotent under `dedupKeys`. The require gates pin
    * both exactly-once layers: the SAME-LINEAGE transaction mark (the
    * txn row commits atomically with the batch's files, so the
    * commit-vs-offset crash window replays into a no-op —
    * `SnapshotStore.lastTxn` is require'd recorded for the lineage), and
    * CONTENT idempotence (a FULL redelivery from a fresh checkpoint — a
    * different lineage, where no txn mark can help — is a version-level
    * no-op). The zone map flowed: a ranged format read prunes files.
    * Oracle: every document exactly once (q134's). */
  def q159StreamSink(spark: SparkSession, dir: String): DataFrame =
    withTmp(spark, "graft_q159_") { path =>
      val base = new java.io.File(path).getParentFile
      val landing = new java.io.File(base, "landing").getAbsolutePath
      val ckpt1 = new java.io.File(base, "ckpt1").getAbsolutePath
      val ckpt2 = new java.io.File(base, "ckpt2").getAbsolutePath
      val docs = t(spark, dir, "documents").select(docCols.map(col): _*)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      def drain(ckpt: String): Unit =
        Drain.sink(spark.readStream.schema(schema).json(landing), ckpt,
          "graft-snapshot", "append", "path" -> path, "dedupKeys" -> "doc_id",
          "statsColumns" -> "doc_id", "clusterBy" -> "doc_id", "numFiles" -> "4")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1).write.json(landing)
      drain(ckpt1)
      val vsA = SnapshotStore.versions(spark, path)
      require(vsA.nonEmpty, "q159: the first batch must create the table")
      // the same-lineage transaction mark landed atomically with batch 0
      require(SnapshotStore.lastTxn(spark, path, ckpt1).contains(0L),
        "q159: the sink must record its lineage's batch mark in-commit")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
        .write.mode("append").json(landing)
      drain(ckpt1) // same lineage drains only the new file
      val vsB = SnapshotStore.versions(spark, path)
      require(vsB.size == vsA.size + 1,
        s"q159: the second batch must be ONE more atomic commit ($vsA -> $vsB)")
      // full crash-replay from a FRESH checkpoint (new lineage): the
      // content-level dedup makes it a version-level no-op
      drain(ckpt2)
      require(SnapshotStore.versions(spark, path) == vsB,
        "q159: full redelivery from a fresh checkpoint must be a no-op")
      // creation options flowed: a ranged format read prunes files
      val total = SnapshotStore.entries(spark, path,
        SnapshotStore.currentVersion(spark, path)).size
      val ranged = spark.read.format("graft-snapshot").load(path)
        .filter(col("doc_id").between(0, 49))
      ranged.collect(): Unit
      val scanned = ranged.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
      require(scanned < total,
        s"q159: statsColumns/clusterBy must have flowed ($scanned of $total)")
      Materialize.sorted(SnapshotStore.read(spark, path), col("doc_id"))
    }

  /** Every document exactly once, despite the full redelivery. */
  val q159Sql: String = q134Sql

  /** Join-time semantics declaratively: enrichment depends on the batch. */
  val q143Sql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_id % 2 = 1 AND user_id < 50 THEN 'new' ELSE 'old' END
      |    AS status
      |FROM events ORDER BY event_id""".stripMargin

  /** Both slabs over the original table; bounds re-derived as max/8. */
  val q142Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, 'k' AS dim
      |FROM orders WHERE o_orderkey < (SELECT max(o_orderkey) // 8 FROM orders)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |  o_orderpriority, 'c' AS dim
      |FROM orders WHERE o_custkey < (SELECT max(o_custkey) // 8 FROM orders)
      |ORDER BY dim, o_orderkey, o_custkey""".stripMargin
}
