package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest-based snapshot table — the catalog commit protocol the
  * plain-parquet operators ([[DedupAppend]], [[Maintenance.appendCycle]],
  * [[TableSwap]]) could only document, made real. The reference's store is
  * a transactional warehouse (`INSERT … ON CONFLICT`, reference
  * dags/etl.py:70-75); at 100 TB the equivalent substrate is a
  * manifest-committed file set (the Iceberg/Delta shape), and this is that
  * substrate in ~one file:
  *
  *   - A table VERSION is an immutable manifest: the list of data files
  *     (with row counts, byte sizes, and per-file column min/max stats)
  *     that make up the table at that version. Data files are never
  *     mutated or renamed after commit.
  *   - The COMMIT POINT is one atomic `create(commit-N, false)` marker —
  *     the same fail-if-exists primitive [[Lease]] uses. A version exists
  *     iff its marker does; a crash anywhere before the marker leaves only
  *     unreferenced garbage (reclaimed by [[vacuum]]), never a corrupt
  *     table.
  *   - READERS ARE LOCK-FREE and snapshot-isolated: resolve the highest
  *     commit marker, read that manifest, read its files — all immutable.
  *     A concurrent writer commits N+1 without disturbing any reader of N.
  *     This is the property the directory-swap operators could not give
  *     (their readers race the rename window); here old versions stay
  *     readable until vacuum ages them out (time travel).
  *   - WRITERS serialize on the table [[Lease]]; the commit marker
  *     additionally refuses a lost-update at the commit point itself, so
  *     even a lease-bypassing writer cannot silently clobber a version.
  *
  * Row-level operations are COPY-ON-WRITE at file granularity: delete and
  * update rewrite only the files that contain matching rows and carry
  * every other file forward BY REFERENCE into the new manifest. Touched
  * files are found by one distributed scan with the predicate pushed into
  * the parquet reader (row-group stats skip non-matching files cheaply),
  * optionally pre-pruned by the manifest's own min/max stats so the scan
  * never opens files outside the predicate's range. At 100 TB a
  * key-ranged delete touches the handful of files whose stats overlap the
  * range — not the table.
  *
  * Per-file stats double as a ZONE MAP: [[pruned]] intersects a range
  * predicate with each file's [min, max] driver-side (manifest-sized
  * work, no I/O) and returns only the overlapping files, which is what
  * makes range scans on a range-clustered table open a few files instead
  * of all of them. Stats come from the newly written files' parquet
  * footers (never the whole table); only a column a footer cannot answer
  * exactly is aggregated over those files ([[newEntries]]). A file whose
  * stats column is all-null simply carries no interval — it is always
  * kept, never wrongly pruned.
  *
  * Manifest metadata never runs a Spark job: the driver writes every
  * delta segment and checkpoint and folds them back ([[ManifestCodec]]),
  * so a commit's jobs are its data work alone.
  *
  * Layout under the table root (all manifest paths RELATIVE to the root,
  * so a table survives relocation):
  * {{{
  *   data/c<N>/part-*.parquet   files written by commit N
  *   _snapshots/v<N>/           manifest parquet (written as tmp-<N>, renamed)
  *   _snapshots/commit-<N>      atomic commit marker (existence = committed)
  *   _snapshots/schema          table schema DDL (for empty-version reads)
  *   _snapshots/statscols       stats column list, fixed at create
  * }}}
  */
object SnapshotStore {

  /** Canonical-string interval for one column of one file. `kind` selects
    * the comparison: `num` parses both sides as BigDecimal; `str` compares
    * raw (dates/timestamps are encoded fixed-width so lexicographic order
    * IS temporal order). */
  final case class ColStats(lo: String, hi: String, kind: String)

  /** One data file of one version. `path` is root-relative. */
  final case class FileEntry(path: String, rows: Long, bytes: Long,
                             stats: Map[String, ColStats])

  /** One row of a manifest LOG SEGMENT. Version N's segment
    * (`_snapshots/v<N>/`) is a DELTA, not a snapshot: `add` rows carry
    * the files the commit introduces (with their stats), `remove` rows
    * name the files it drops (copy-on-write rewrites, compaction). The
    * live file set of any version is the FOLD of the newest checkpoint at
    * or below it plus the delta segments after it — which is what makes a
    * commit O(its own churn) instead of O(table files): at 10⁶ files a
    * one-file append writes a one-row segment, never a million-row
    * manifest. `kind` distinguishes data files from row-tombstone files
    * (merge-on-read deletes). Since every data file path is minted once
    * (per-attempt unique dirs) and removed at most once afterwards, the
    * fold is order-free: live = adds ∖ removes by path. */
  final case class ManifestRow(action: String, kind: String, path: String,
                               rows: Long, bytes: Long,
                               stats: Map[String, ColStats])

  private def addRow(e: FileEntry, kind: String = "data"): ManifestRow =
    ManifestRow("add", kind, e.path, e.rows, e.bytes, e.stats)
  private def removeRow(path: String): ManifestRow =
    ManifestRow("remove", "data", path, 0L, 0L, Map.empty)

  /** STREAM-TRANSACTION row (the SetTransaction shape every table format
    * carries): records that writer lineage `txnId` committed its batch
    * `batchId` IN the same atomic segment as the batch's files — so "has
    * this batch landed?" is answered from the manifest fold itself, and
    * a crash between the data commit and the caller's own checkpoint
    * write replays into a loud no-op instead of a duplicate. `kind` is
    * prefixed (`txn:<id>`) so it can never collide with data/tombstone
    * kinds; `rows` carries the batch id. Folds keep only the LATEST
    * batch per lineage, so checkpoints stay bounded by the number of
    * distinct writer lineages, not the commit count. */
  private def txnRow(txnId: String, batchId: Long): ManifestRow =
    ManifestRow("txn", s"txn:$txnId", s"txn-$batchId", batchId, 0L, Map.empty)

  /** Caller promise that `pred` can only match rows where `col` falls in
    * `[lo, hi]` (canonical encoding) — lets delete/update skip reading
    * files outside the range via the manifest alone. */
  final case class RangeHint(col: String, lo: String, hi: String)

  /** On-disk layout version, recorded at create as `_snapshots/format`.
    * Version 2 = delta-manifest segments (add/remove/kind rows, epoch-
    * micros timestamp stats). The round-8 full-snapshot layout (plain
    * FileEntry rows, ISO timestamp stats) predates the file: a table
    * whose `_snapshots` exists WITHOUT it is that legacy layout, and a
    * read refuses loudly instead of silently folding its rows to an
    * empty table (null `action` would fail every `action = 'add'`
    * filter) or mis-pruning its lexicographic timestamp stats against
    * micros literals. A version ABOVE the current one refuses too — a
    * newer writer's table is not guessable. */
  private val FormatVersion = 2

  private def snapDir(root: Path) = new Path(root, "_snapshots")
  private def formatPath(root: Path) = new Path(snapDir(root), "format")

  private def requireFormat(fs: FileSystem, root: Path): Unit = {
    val p = formatPath(root)
    if (!fs.exists(p)) throw new java.io.IOException(
      s"snapshot table at $root has no _snapshots/format marker — a " +
        "pre-delta-manifest legacy layout (or foreign directory); refusing " +
        "to read it as an empty table. Re-create the table with this version.")
    val v = readSmall(fs, p).trim.toIntOption.getOrElse(Int.MaxValue)
    if (v > FormatVersion) throw new java.io.IOException(
      s"snapshot table at $root is format $v; this reader supports <= " +
        s"$FormatVersion — upgrade the reader, not the table")
  }
  private def manifestDir(root: Path, v: Long) = new Path(snapDir(root), s"v$v")
  private def markerPath(root: Path, v: Long) = new Path(snapDir(root), s"commit-$v")
  private def ckptDir(root: Path, v: Long) = new Path(snapDir(root), s"ckpt-$v")

  /** Roll the fold into a checkpoint once this many delta segments have
    * accumulated past the previous checkpoint — bounding every read's
    * segment count (and so the fold's driver memory) while keeping
    * commits delta-sized. The checkpoint is the driver's fold written as
    * one segment, amortized 1/16 per commit. */
  private val CheckpointEvery = 16L

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeSmall(fs: FileSystem, p: Path, s: String,
                         overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- version resolution (reader side, lock-free) ------------------------

  /** Committed versions, ascending (existence of the commit marker IS the
    * commit — a manifest dir without its marker is a crashed committer's
    * garbage and invisible here). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val sd = snapDir(root)
    if (!fs.exists(sd)) return Nil
    fs.listStatus(sd).iterator.map(_.getPath.getName)
      .filter(_.startsWith("commit-"))
      .map(_.stripPrefix("commit-").toLong).toSeq.sorted
  }

  def currentVersion(spark: SparkSession, path: String): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed snapshot at $path")
    vs.last
  }

  private def ckptVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val sd = snapDir(root)
    if (!fs.exists(sd)) Nil
    else fs.listStatus(sd).iterator.map(_.getPath.getName)
      .filter(_.startsWith("ckpt-"))
      .flatMap(_.stripPrefix("ckpt-").toLongOption).toSeq.sorted
  }

  /** Parsed key=value fields of version `v`'s commit marker body. */
  private def markerFields(fs: FileSystem, root: Path, v: Long): Map[String, String] =
    readSmall(fs, markerPath(root, v)).split("\\s+").iterator
      .flatMap(t => t.split("=", 2) match {
        case Array(k, value) => Some(k -> value); case _ => None
      }).toMap

  /** The segments whose fold is version `v`'s live set: the newest
    * checkpoint at or below `v` (if any) plus every delta after it. */
  private def segmentDirs(fs: FileSystem, root: Path, v: Long): Seq[Path] = {
    requireFormat(fs, root) // every fold resolves through here
    val c = ckptVersions(fs, root).filter(_ <= v).lastOption.getOrElse(0L)
    (if (c > 0) Seq(ckptDir(root, c)) else Nil) ++ ((c + 1) to v).map(manifestDir(root, _))
  }

  /** One segment's rows; a missing segment refuses as a corrupt table. */
  private def readSegment(fs: FileSystem, root: Path, dir: Path): Seq[ManifestRow] =
    try ManifestCodec.read(fs, dir)
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(
        s"requirement failed: manifest segment missing at $root: ${dir.getName} — " +
          "corrupt table (a delta was deleted without a covering checkpoint)")
    }

  /** THE FOLD, on the driver: live = adds ∖ removes by path (order-free —
    * see [[ManifestRow]]) plus the newest txn row per writer lineage (so a
    * checkpoint of the fold carries ONE txn row per lineage, not one per
    * batch). Driver memory: the rows read, i.e. the checkpoint's rows plus
    * the deltas after it — at most [[CheckpointEvery]] of them while the
    * automatic roll keeps up; the same list [[liveSplit]] collects. */
  private def foldRows(rows: Seq[ManifestRow]): Seq[ManifestRow] = {
    val removed = rows.iterator.filter(_.action == "remove").map(_.path).toSet
    val latestTxn = rows.filter(_.action == "txn").groupBy(_.kind).values
      .map(_.maxBy(_.rows)).toSeq.sortBy(_.kind)
    rows.filter(r => r.action == "add" && !removed.contains(r.path)) ++ latestTxn
  }

  /** Version `v`'s fold, read from its segments by [[ManifestCodec]]. */
  private def foldAt(fs: FileSystem, root: Path, v: Long): Seq[ManifestRow] =
    foldRows(segmentDirs(fs, root, v).flatMap(readSegment(fs, root, _)))

  /** The fold of a committed version (refuses an uncommitted one). */
  private def committedFold(spark: SparkSession, path: String,
                            v: Long): Seq[ManifestRow] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(fs.exists(markerPath(root, v)), s"version $v not committed at $path")
    foldAt(fs, root, v)
  }

  private def fileEntries(rows: Seq[ManifestRow], kind: String): Seq[FileEntry] =
    rows.filter(r => r.action == "add" && r.kind == kind)
      .map(r => FileEntry(r.path, r.rows, r.bytes, r.stats)).sortBy(_.path)

  /** (data entries, tombstone entries) of a fold. */
  private def split(rows: Seq[ManifestRow]): (Seq[FileEntry], Seq[FileEntry]) =
    (fileEntries(rows, "data"), fileEntries(rows, "tombstone"))

  /** The newest batch id lineage `txnId` committed, within a fold. */
  private def txnMark(rows: Seq[ManifestRow], txnId: String): Option[Long] =
    rows.filter(r => r.action == "txn" && r.kind == s"txn:$txnId")
      .map(_.rows).maxOption

  /** The newest batch id writer lineage `txnId` has committed to this
    * table, read from the manifest fold (the txn rows commit ATOMICALLY
    * with their batch's files — see [[txnRow]]). None = no batch yet. */
  def lastTxn(spark: SparkSession, path: String, txnId: String): Option[Long] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) None
    else txnMark(committedFold(spark, path, vs.last), txnId)
  }

  /** The manifest of version `v`: DATA file list with stats,
    * root-relative, folded on the driver (bounded by the version's live
    * file count plus the deltas since its checkpoint). */
  def entries(spark: SparkSession, path: String, v: Long): Seq[FileEntry] =
    fileEntries(committedFold(spark, path, v), "data")

  /** Live row-tombstone files of version `v` (merge-on-read deletes). */
  def tombstoneEntries(spark: SparkSession, path: String,
                       v: Long): Seq[FileEntry] =
    fileEntries(committedFold(spark, path, v), "tombstone")

  /** ONE fold, split (data entries, tombstone entries) — the write paths
    * and the read planners use this so an op folds each version once. */
  private[graft] def liveSplit(spark: SparkSession, path: String,
                               v: Long): (Seq[FileEntry], Seq[FileEntry]) =
    split(committedFold(spark, path, v))

  /** The table schema is the HIGHEST-numbered schema file (`schema` = the
    * creation schema, `schema-<k>` = the k-th evolution). Each evolution
    * is a new fail-if-exists file — never an overwrite of the previous
    * one — so a crash mid-evolution leaves the old schema intact and the
    * history readable. */
  private def schemaFiles(fs: FileSystem, root: Path): Seq[(Int, Path)] = {
    val sd = snapDir(root)
    fs.listStatus(sd).iterator.map(_.getPath).flatMap { p =>
      p.getName match {
        case "schema" => Some(0 -> p)
        case n if n.startsWith("schema-") =>
          n.stripPrefix("schema-").toIntOption.map(_ -> p)
        case _ => None
      }
    }.toSeq.sortBy(_._1)
  }

  private def tableSchema(fs: FileSystem, root: Path): StructType =
    StructType.fromDDL(readSmall(fs, schemaFiles(fs, root).last._2))

  /** The table's current schema (latest evolution) — the read surface the
    * format provider ([[graft.sources.v2.SnapshotSource]]) resolves
    * against. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val root = new Path(path)
    tableSchema(fsOf(spark, root), root)
  }

  /** Schema evolution: ADD COLUMN, zero-rewrite. No data file is touched
    * — files written before the evolution simply lack the column, and
    * every read resolves them against the latest schema, yielding NULL
    * (merge-on-read backfill). Time-travel reads also render the latest
    * schema (the column reads NULL before its data existed) — the
    * documented trade of not storing a schema per version. The new
    * schema file is created fail-if-exists under the table lease, so
    * concurrent evolutions cannot interleave and a crash leaves the
    * previous schema authoritative. At 100 TB this is the point: adding
    * a column costs one small file, not a table rewrite. */
  def evolveAddColumn(spark: SparkSession, path: String,
                      colName: String, ddlType: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot schema evolution") {
      val cur = tableSchema(fs, root)
      require(!cur.fieldNames.contains(colName),
        s"column $colName already exists in table at $path")
      val next = StructType(cur.fields :+
        StructField(colName, org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(ddlType), nullable = true))
      val k = schemaFiles(fs, root).last._1 + 1
      val out = fs.create(new Path(snapDir(root), s"schema-$k"), false)
      try out.write(next.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private def statsCols(fs: FileSystem, root: Path): Seq[String] = {
    val p = new Path(snapDir(root), "statscols")
    if (!fs.exists(p)) Nil
    else readSmall(fs, p).split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Table history (DESCRIBE HISTORY): one row per committed version with
    * the operation recorded in its commit marker and its parent version —
    * the audit trail of the maintenance lifecycle, read lock-free from the
    * markers alone (manifest-sized driver work, no data I/O). */
  def history(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val rows = versions(spark, path).map { v =>
      val fields = markerFields(fs, root, v)
      (v, fields.getOrElse("op", "unknown"),
        fields.get("parent").flatMap(_.toLongOption).getOrElse(v - 1))
    }
    import spark.implicits._
    rows.toDF("version", "op", "parent")
  }

  /** The newest version committed at or before wall-clock `tsMillis`
    * (epoch millis) — commit instants are recorded in the marker body at
    * the commit point, so the resolution is one marker-read pass, no data
    * I/O. Refuses if every committed version is later than `tsMillis`. */
  def versionAsOfTimestamp(spark: SparkSession, path: String,
                           tsMillis: Long): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed snapshot at $path")
    val at = vs.filter { v =>
      markerFields(fs, root, v).get("ts").flatMap(_.toLongOption)
        .forall(_ <= tsMillis) // a marker without ts (pre-upgrade) matches
    }
    require(at.nonEmpty,
      s"no version at $path committed at or before epoch-millis $tsMillis")
    at.last
  }

  /** Read a version by its manifest (absolute paths resolved against the
    * root — the table is relocatable). An empty manifest (delete-all)
    * reads as an empty frame with the recorded schema. Live row
    * tombstones (merge-on-read deletes) resolve here: untargeted files
    * stay on the plain scan fast path, targeted files anti-join their
    * rows against the tombstones. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    val root = new Path(path)
    readFold(spark, root, fsOf(spark, root), committedFold(spark, path, v))
  }

  /** Read a fold's live rows (tombstones resolved). */
  private def readFold(spark: SparkSession, root: Path, fs: FileSystem,
                       rows: Seq[ManifestRow]): DataFrame = {
    val (es, tombs) = split(rows)
    readFilesResolved(spark, root, fs, es, tombs, tableSchema(fs, root))
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, currentVersion(spark, path))

  /** The PLANNER-INTEGRATED read: a DataFrame whose scan resolves its
    * files through [[graft.plans.SnapshotFileIndex]], so any plain
    * `.filter` on a stats column prunes files via the manifest's zone map
    * automatically — no hint, no special scan API; and the listing is
    * synthesized from the manifest (zero filesystem RPCs at planning).
    * This is the read a query layer should hand out by default; [[read]]
    * remains the dependency-light explicit-file-list form. */
  def readRelation(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val v = currentVersion(spark, path)
    // one fold for tombstone check + file list
    val (es, tombs) = liveSplit(spark, path, v)
    require(tombs.isEmpty,
      s"readRelation: version $v at $path carries ${tombs.size} live row-" +
        "tombstone file(s) (merge-on-read deletes) which a pure file scan " +
        "cannot apply — read via SnapshotStore.read, or compact the table")
    val idx = new graft.plans.SnapshotFileIndex(
      fs.makeQualified(root), es, tableSchema(fs, root))
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = idx,
      partitionSchema = StructType(Nil),
      dataSchema = tableSchema(fs, root),
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)
  }

  // ---- zone-map pruning ----------------------------------------------------

  /** THE stats order, shared by [[pruned]] and
    * [[graft.plans.SnapshotFileIndex]]: `num` compares as BigDecimal; `str`
    * in Unicode code-point order, which is UTF-8 byte order — the order
    * Spark's `min`/`max` and parquet's footers record intervals in.
    * (`String.compareTo` is UTF-16 code-unit order: it sorts U+1F600 below
    * U+FFFF, and would prune a file holding the queried value.) */
  private[graft] def compareStats(kind: String, a: String, b: String): Int =
    if (kind == "num") BigDecimal(a).compare(BigDecimal(b))
    else {
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
        j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }

  /** Manifest entries whose `[lo, hi]` interval on `col` overlaps the query
    * range — driver-side, manifest-sized, zero I/O. Files with no recorded
    * interval on `col` (all-null, or `col` not a stats column) are KEPT:
    * pruning may only ever drop files proven disjoint — including when a
    * stats string fails to parse (a foreign or corrupt manifest): the
    * file is kept, never wrongly pruned. */
  def pruned(es: Seq[FileEntry], colName: String,
             lo: String, hi: String): Seq[FileEntry] =
    es.filter { e =>
      e.stats.get(colName) match {
        case Some(s) =>
          try compareStats(s.kind, s.hi, lo) >= 0 && compareStats(s.kind, s.lo, hi) <= 0
          catch { case _: NumberFormatException => true }
        case None => true
      }
    }

  /** Read just `es`'s files of the current table (the scan half of a
    * zone-map-pruned range query; callers re-apply the exact predicate). */
  def readFiles(spark: SparkSession, path: String,
                es: Seq[FileEntry]): DataFrame = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if (es.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tableSchema(fs, root))
    else spark.read.schema(tableSchema(fs, root))
      .parquet(es.map(e => new Path(root, e.path).toString): _*)
  }

  // ---- merge-on-read row tombstones -----------------------------------------

  private val TombFileCol = "__file"

  /** Root-relative spelling of a file-path COLUMN — the distributed twin
    * of [[relOf]], and it must produce the IDENTICAL string: tombstone
    * `__file` values are equality-joined against manifest paths, so a
    * spelling drift between the two sides silently skips the anti-join
    * and resurrects deleted rows. [[relOf]] goes through `toUri.getPath`,
    * which drops both the scheme and the AUTHORITY — so this side strips
    * `scheme:(//authority)?` too (a scheme-only strip would keep
    * `nn:8020`/`bucket` on hdfs/s3a/abfs paths and never match). The
    * substring then removes `<root path>/`. Unit-tested against
    * authority-bearing spellings in SnapshotStoreSpec. */
  private[graft] def relPathExpr(fileCol: Column, rootPath: String): Column =
    substring(
      regexp_replace(fileCol, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
      rootPath.length + 2, Int.MaxValue)

  /** `df`'s rows plus a root-relative source-file column, computed
    * DISTRIBUTEDLY from the scan's `_metadata.file_path` via
    * [[relPathExpr]] (same spelling as the driver-side [[relOf]]). */
  private def withRelFile(root: Path, fs: FileSystem, df: DataFrame): DataFrame = {
    val rootPath = fs.makeQualified(root).toUri.getPath
    df.withColumn(TombFileCol, relPathExpr(col("_metadata.file_path"), rootPath))
  }

  private def tombSchema(schema: StructType): StructType =
    StructType(StructField(TombFileCol, StringType, nullable = true) +: schema.fields)

  /** Every LIVE row of `es` with its source file: the raw scan anti-joined
    * (null-safe, full row + source file) against the tombstone rows. The
    * file-scoping is the semantic point — a tombstone kills every copy of
    * its row IN ITS FILE (exactly the pred-delete multiset semantics,
    * since all copies match the pred equally), while an identical row
    * appended later lives in a NEW file and is untouched. */
  private def resolvedWithFile(spark: SparkSession, root: Path, fs: FileSystem,
                               es: Seq[FileEntry], tombs: Seq[FileEntry],
                               schema: StructType): DataFrame = {
    val base = withRelFile(root, fs, spark.read.schema(schema)
      .parquet(es.map(e => new Path(root, e.path).toString): _*))
    if (tombs.isEmpty) base
    else {
      val cols = schema.fieldNames.toSeq
      val l = base.alias("l")
      val r = spark.read.schema(tombSchema(schema))
        .parquet(tombs.map(t => new Path(root, t.path).toString): _*).alias("r")
      val cond = (col(s"l.$TombFileCol") <=> col(s"r.$TombFileCol")) &&
        cols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
      l.join(r, cond, "left_anti")
        .select((cols :+ TombFileCol).map(c => col(s"l.$c")): _*)
    }
  }

  /** Read `es`'s files resolving live tombstones: files NO tombstone
    * targets read on the plain scan fast path (zero overhead — the
    * common case); only targeted files pay the row-level anti-join. With
    * no tombstones this IS [[readFiles]]. */
  private def readFilesResolved(spark: SparkSession, root: Path, fs: FileSystem,
                                es: Seq[FileEntry], tombs: Seq[FileEntry],
                                schema: StructType): DataFrame = {
    if (es.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    if (tombs.isEmpty)
      return spark.read.schema(schema)
        .parquet(es.map(e => new Path(root, e.path).toString): _*)
    val tombDf = spark.read.schema(tombSchema(schema))
      .parquet(tombs.map(t => new Path(root, t.path).toString): _*)
    // files ever targeted: bounded by past MoR deletes' touch sets —
    // metadata-sized, the final prune of this read's planning
    val targeted = tombDf.select(col(TombFileCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val (dirty, clean) = es.partition(e => targeted.contains(e.path))
    val cleanDf =
      if (clean.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema)
        .parquet(clean.map(e => new Path(root, e.path).toString): _*)
    if (dirty.isEmpty) cleanDf
    else cleanDf.unionByName(
      resolvedWithFile(spark, root, fs, dirty, tombs, schema)
        .select(schema.fieldNames.toSeq.map(col): _*))
  }

  /** MERGE-ON-READ DELETE: write the matched rows as ONE tombstone file
    * (each row tagged with its source data file) and commit a delta that
    * only ADDS that tombstone — no data file is rewritten or even named.
    * Cost ∝ matched rows, independent of how many files they scatter
    * across; the read-side anti-join is confined to the targeted files;
    * [[compact]] folds every tombstone away (reads the resolved rows,
    * removes data+tombstone files, writes net data — the law q147
    * scores). The copy-on-write [[deleteWhere]] stays the right call when
    * matches concentrate in few files or the table is read far more often
    * than it is deleted from; at 100 TB a SCATTERED predicate (one row in
    * each of 10⁴ files) is where CoW's write amplification explodes and
    * this path writes one small file. Matched rows are resolved against
    * existing tombstones first, so re-deleting is a true no-op. */
  def deleteWhereMoR(spark: SparkSession, path: String, pred: Column,
                     hint: Option[RangeHint] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot mor delete") {
      val cur = currentVersion(spark, path)
      val (es, tombs) = liveSplit(spark, path, cur)
      val schema = tableSchema(fs, root)
      val candidates = hint match {
        case Some(h) => pruned(es, h.col, h.lo, h.hi)
        case None => es
      }
      if (candidates.isEmpty) cur
      else {
        val matched = resolvedWithFile(spark, root, fs, candidates, tombs, schema)
          .filter(pred <=> lit(true))
          .select(col(TombFileCol) +: schema.fieldNames.toSeq.map(col): _*)
        val v = cur + 1
        val (dir, tombEs) = writeData(spark, root, fs, v, matched, Nil)
        if (tombEs.isEmpty) { // nothing matched: a true no-op
          fs.delete(dir, true)
          cur
        } else commitDelta(root, fs, v,
          tombEs.map(addRow(_, kind = "tombstone")), Nil, "delete_mor")
      }
    }
  }

  /** MERGE-ON-READ UPDATE: the matched rows' OLD images commit as ONE
    * tombstone file (each tagged with its source data file — exactly the
    * [[deleteWhereMoR]] discipline) and their NEW images as fresh data
    * files, in ONE atomic commit — no touched data file is rewritten or
    * even named in the delta. Cost ∝ matched rows; the copy-on-write
    * [[updateWhere]] pays (files holding matches) × file size. At 100 TB
    * a SCATTERED one-column correction (one row in each of 10⁴ files) is
    * the difference between two small files here and 10⁴ full-file
    * rewrites there. Reads resolve as with MoR deletes (old images dead
    * via the file-scoped anti-join, new images live in their new files);
    * [[compact]] folds it all back to a pure file table. Row count is
    * invariant by construction (every tombstoned row re-lands updated). */
  def updateWhereMoR(spark: SparkSession, path: String, pred: Column,
                     set: Map[String, Column],
                     hint: Option[RangeHint] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot mor update") {
      val cur = currentVersion(spark, path)
      val schema = tableSchema(fs, root)
      set.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"update of unknown column $c"))
      val (es, tombs) = liveSplit(spark, path, cur)
      val candidates = hint match {
        case Some(h) => pruned(es, h.col, h.lo, h.hi)
        case None => es
      }
      if (candidates.isEmpty) cur
      else {
        // resolved against EXISTING tombstones: already-dead rows are
        // neither re-tombstoned nor resurrected as updated copies
        val matched = resolvedWithFile(spark, root, fs, candidates, tombs, schema)
          .filter(pred <=> lit(true))
          .localCheckpoint(true) // read twice: old images + new images
        val oldImages = matched
          .select(col(TombFileCol) +: schema.fieldNames.toSeq.map(col): _*)
        val newImages = matched.select(schema.fieldNames.toSeq.map { c =>
          set.get(c) match {
            case Some(e) => e.cast(schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
        val v = cur + 1
        val (tombDir, tombEs) = writeData(spark, root, fs, v, oldImages, Nil)
        if (tombEs.isEmpty) { // nothing matched: a true no-op
          fs.delete(tombDir, true)
          cur
        } else {
          val (_, newEs) = writeData(spark, root, fs, v, newImages, statsCols(fs, root))
          commitDelta(root, fs, v,
            tombEs.map(addRow(_, kind = "tombstone")) ++ newEs.map(addRow(_)),
            Nil, "update_mor")
        }
      }
    }
  }

  /** MERGE-ON-READ MERGE (upsert): the matched keys' current rows commit
    * as ONE tombstone file and the whole batch (updates + inserts) as
    * fresh data files — one atomic commit, zero data-file rewrites. The
    * copy-on-write [[merge]] rewrites every file holding a matched key;
    * here a matched key costs its old row's tombstone entry, so a
    * scattered-key upsert batch is O(batch), not O(touched files × file
    * size). Same key/hint contract as [[merge]] ([[RangeHint]] must
    * bound every batch key that may already exist; `verifyHint` makes a
    * lying hint refuse loudly). In-batch duplicates collapse by the
    * deterministic survivor order. Empty batch = true no-op. */
  def mergeMoR(spark: SparkSession, batch: DataFrame, path: String,
               keys: Seq[String], tieBreak: Seq[String],
               hint: Option[RangeHint] = None,
               owner: Option[String] = None,
               verifyHint: Boolean = false): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot mor merge", owner) {
      val cur = currentVersion(spark, path)
      val schema = tableSchema(fs, root)
      requireSchemaMatch(batch, schema, "merge", path)
      val (es, tombs) = liveSplit(spark, path, cur)
      val one = DedupAppend.survivors(
        batch.select(schema.fieldNames.toSeq.map(col): _*), keys, tieBreak)
        .localCheckpoint(true) // read 2-3×: matched probe, data write, hint audit
      val candidates = hint match {
        case Some(h) => pruned(es, h.col, h.lo, h.hi)
        case None => es
      }
      if (verifyHint && hint.nonEmpty)
        auditHint(spark, root, fs, path, es, candidates, one, keys, hint.get)
      val matchedOld =
        if (candidates.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tombSchema(schema))
        else resolvedWithFile(spark, root, fs, candidates, tombs, schema)
          .join(one.select(keys.map(col): _*), keys, "left_semi")
          .select(col(TombFileCol) +: schema.fieldNames.toSeq.map(col): _*)
      val v = cur + 1
      val (tombDir, tombEs) = writeData(spark, root, fs, v, matchedOld, Nil)
      if (tombEs.isEmpty) fs.delete(tombDir, true)
      val (dataDir, newEs) = writeData(spark, root, fs, v, one, statsCols(fs, root))
      if (newEs.isEmpty && tombEs.isEmpty) { // empty batch: true no-op
        fs.delete(dataDir, true)
        cur
      } else commitDelta(root, fs, v,
        tombEs.map(addRow(_, kind = "tombstone")) ++ newEs.map(addRow(_)),
        Nil, "merge_mor")
    }
  }

  /** The `verifyHint` audit shared by [[merge]]/[[mergeMoR]]: a
    * [[RangeHint]] is a caller PROMISE that no batch key already present
    * in the table lives outside the hinted files — broken, the merge
    * silently duplicates that key (documented at [[merge]]). This debug
    * mode verifies the promise physically: probe the PRUNED-AWAY files
    * (key columns only, batch keys semi-joined) and refuse loudly on any
    * hit. The audit pays exactly the key-column scan the hint avoided —
    * never the rewrite I/O — so it is the cheap way to qualify a hint on
    * a sample before trusting it in production. A truthful hint prunes
    * identically with or without the audit (law in SnapshotStoreSpec). */
  private def auditHint(spark: SparkSession, root: Path, fs: FileSystem,
                        path: String, es: Seq[FileEntry],
                        candidates: Seq[FileEntry], one: DataFrame,
                        keys: Seq[String], hint: RangeHint): Unit = {
    val candSet = candidates.map(_.path).toSet
    val outside = es.filterNot(e => candSet.contains(e.path))
    if (outside.isEmpty) return
    val hits = readFiles(spark, path, outside)
      .select(keys.map(col): _*)
      .join(one.select(keys.map(col): _*), keys, "left_semi")
      .limit(1).count()
    require(hits == 0L,
      s"merge verifyHint: RangeHint(${hint.col}, [${hint.lo}, ${hint.hi}]) is " +
        s"a LIE — a batch key already exists in a file the hint pruned away " +
        s"at $path; an unverified merge would have silently duplicated it. " +
        "Widen the hint (or drop it).")
  }

  // ---- stats + manifest construction ---------------------------------------

  /** (kind, encoder) for a stats column: numeric kinds get `num`
    * (BigDecimal-parsed canonical strings); date/timestamp-ntz are encoded
    * fixed-width ISO so `str` lexicographic order is temporal order.
    * TimestampType (an INSTANT) is encoded as epoch MICROS under `num` —
    * a rendered wall-clock string would depend on the writer session's
    * `spark.sql.session.timeZone`, and a pruner in a different zone would
    * silently drop files containing matching rows; epoch micros is the
    * one canonical form both sides share. Float/Double guard non-finite
    * aggregates: a NaN/Infinity min or max encodes as NULL, so the file
    * simply carries no interval (always kept) instead of a stats string
    * that would throw at prune time. */
  private[graft] def statsEncoder(dt: DataType): Option[(String, Column => Column)] = dt match {
    case FloatType | DoubleType => Some(("num", c =>
      when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), lit(null))
        .otherwise(c.cast(StringType))))
    case ByteType | ShortType | IntegerType | LongType |
         _: DecimalType => Some(("num", c => c.cast(StringType)))
    case StringType => Some(("str", identity[Column] _))
    case DateType => Some(("str", c => c.cast(StringType)))
    case TimestampType => Some(("num", c => unix_micros(c).cast(StringType)))
    case TimestampNTZType =>
      // NTZ carries no instant: its micros-since-epoch encoding is defined
      // without any zone, so formatting it through the UTC-anchored path
      // is zone-independent by construction (verified in SnapshotStoreSpec)
      Some(("str", c => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")))
    case _ => None
  }

  /** Root-relative spelling of an absolute file reference. Compares on the
    * URI *path* component: the same file is rendered `file:///x` by Spark's
    * `_metadata.file_path` and `file:/x` by Hadoop's `makeQualified`, so a
    * raw string prefix-strip would silently mismatch the two sides. */
  private def relOf(fs: FileSystem, root: Path, abs: String): String = {
    val rootPath = fs.makeQualified(root).toUri.getPath
    val absPath = new Path(abs).toUri.getPath
    require(absPath.startsWith(rootPath + "/"),
      s"data file $abs outside table root $rootPath")
    absPath.stripPrefix(rootPath + "/")
  }

  /** Build manifest entries for freshly written files: one listing pass for
    * bytes, then each new file's parquet FOOTER for its row count and, per
    * stats column, its min/max wherever the footer gives the canonical
    * interval exactly ([[ManifestCodec.footerInterval]] names the cases it
    * cannot: chosen by column type and footer content). Only those
    * columns fall back to ONE column-pruned aggregate over only the files
    * that need it; the whole table is never re-read. Zero-row part files
    * are dead weight and never referenced. */
  private def newEntries(spark: SparkSession, root: Path, fs: FileSystem,
                         commitDataDir: Path, schema: StructType,
                         cols: Seq[String]): Seq[FileEntry] = {
    def rel(abs: String): String = relOf(fs, root, abs)
    if (!fs.exists(commitDataDir)) return Nil
    val written = fs.listStatus(commitDataDir).toSeq.filter(ManifestCodec.isDataFile)
    if (written.isEmpty) return Nil
    val kinds = cols.flatMap(c =>
      statsEncoder(schema(c).dataType).map { case (k, enc) => (c, k, enc) })
    val truncLen = "parquet.statistics.truncate.length"
    val binaryTruncated = spark.conf.getOption(truncLen)
      .orElse(Option(spark.sparkContext.hadoopConfiguration.get(truncLen)))
      .exists(_.trim.toIntOption.forall(_ < Int.MaxValue))
    // per file: (path, bytes, rows, column → footer interval)
    val files = written.map { f =>
      val meta = ManifestCodec.footer(fs, f)
      (rel(fs.makeQualified(f.getPath).toString), f.getLen, ManifestCodec.rowCount(meta),
        kinds.map { case (c, _, _) =>
          c -> ManifestCodec.footerInterval(meta, c, schema(c).dataType, binaryTruncated)
        }.toMap)
    }.filter(_._3 > 0).sortBy(_._1)
    // the cells no footer answers: one aggregate job over just their files
    val aggFiles = files.filter(_._4.values.exists(_.isEmpty))
    val aggCols = kinds.filter { case (c, _, _) => aggFiles.exists(_._4(c).isEmpty) }
    val aggregated: Map[String, Row] =
      if (aggCols.isEmpty) Map.empty
      else {
        val aggs = aggCols.flatMap { case (c, _, enc) =>
          Seq(enc(min(col(c))).as(s"__lo_$c"), enc(max(col(c))).as(s"__hi_$c"))
        }
        spark.read.schema(StructType(aggCols.map { case (c, _, _) => schema(c) }))
          .parquet(aggFiles.map(f => new Path(root, f._1).toString): _*)
          .groupBy(col("_metadata.file_path").as("__fp"))
          .agg(aggs.head, aggs.tail: _*).collect()
          .map(r => rel(r.getString(0)) -> r).toMap
      }
    files.map { case (p, bytes, n, fromFooter) =>
      val st = kinds.flatMap { case (c, kind, _) =>
        fromFooter(c).getOrElse {
          val r = aggregated(p)
          Option(r.getAs[String](s"__lo_$c")).zip(Option(r.getAs[String](s"__hi_$c")))
        }.map { case (lo, hi) => c -> ColStats(lo, hi, kind) } // all-null: no interval
      }.toMap
      FileEntry(p, n, bytes, st)
    }
  }

  /** Write `df`'s rows as version `v`'s data files, under a directory
    * UNIQUE TO THIS ATTEMPT (`data/c<v>-<uuid>`). The uniqueness is a
    * correctness property, not hygiene: a write-audit-publish audit holds
    * no lease, so a concurrent writer may also be staging bytes for the
    * same version slot — with a shared `data/c<v>` its overwrite would
    * destroy the audited files BEFORE its own commit refuses, and publish
    * would then commit a manifest referencing deleted data. Per-attempt
    * dirs mean no writer can ever touch another attempt's bytes; a losing
    * or crashed attempt leaves only unreferenced garbage for [[vacuum]].
    * Returns (the attempt dir — for no-op cleanup, never shared) and the
    * new files' manifest entries. */
  private def writeData(spark: SparkSession, root: Path, fs: FileSystem, v: Long,
                        df: DataFrame, cols: Seq[String]): (Path, Seq[FileEntry]) = {
    val dir = new Path(root,
      s"data/c$v-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("overwrite").parquet(dir.toString)
    (dir, newEntries(spark, root, fs, dir, df.schema, cols))
  }

  /** Raised at the commit point when version `v`'s slot is taken.
    * `committedWinner` = true means a COMMITTED version won the slot
    * (another writer's marker landed first) — commutative operations may
    * rebase onto the new head and retry; false means a marker-less staged
    * manifest holds the slot (an in-flight write-audit-publish
    * reservation), which no writer may skip past: the staged bytes were
    * audited against exactly this head. */
  final class CommitConflictException(msg: String, val committedWinner: Boolean)
      extends java.io.IOException(msg)

  /** Fault-injection seam for OCC tests: invoked once per commit attempt,
    * before the conflict checks — a test makes a competing commit land
    * here to exercise the lost-update/rebase paths deterministically (the
    * same seam every OCC-tested table format carries). No-op in
    * production. */
  @volatile private[graft] var commitFence: () => Unit = () => ()

  /** The atomic commit of one DELTA segment: the driver writes the
    * add/remove rows ([[ManifestCodec]] — no Spark job) to a tmp sibling,
    * renames it to `v<N>`, then creates the fail-if-exists marker. The
    * marker is the ONLY commit point — a conflicting committer loses
    * cleanly and its segment/data garbage awaits vacuum; the table is
    * never ambiguous. Cost is O(this commit's churn): the previous
    * version's file list is never read, collected, or rewritten here.
    * The marker body records op, parent, add/remove counts (what the
    * change feed classifies commits by, without reading a segment) and
    * the commit instant (timestamp time travel). */
  private def commitDelta(root: Path, fs: FileSystem,
                          v: Long, adds: Seq[ManifestRow],
                          removePaths: Seq[String], op: String): Long = {
    commitFence()
    val tmp = new Path(snapDir(root), s"tmp-$v-${java.util.UUID.randomUUID()}")
    ManifestCodec.write(fs, tmp, adds ++ removePaths.map(removeRow))
    val dst = manifestDir(root, v)
    def conflict(committed: Boolean): Nothing = {
      fs.delete(tmp, true)
      throw new CommitConflictException(
        s"snapshot commit conflict at $root: version $v already " +
          s"${if (committed) "committed" else "staged"} " +
          "(lost update refused — retry from the new current version)",
        committed)
    }
    if (fs.exists(markerPath(root, v))) conflict(true)
    if (fs.exists(dst)) conflict(false)
    if (!fs.rename(tmp, dst)) conflict(fs.exists(markerPath(root, v)))
    val out =
      try fs.create(markerPath(root, v), false)
      catch { case scala.util.control.NonFatal(_) =>
        fs.delete(dst, true); conflict(true) }
    try out.write(
      (s"op=$op parent=${v - 1} adds=${adds.size} removes=${removePaths.size} " +
        s"ts=${System.currentTimeMillis()}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // roll a checkpoint once enough deltas accumulated (amortized
    // 1/CheckpointEvery per commit; no listing below that many versions;
    // best-effort — the commit marker is already down, so a failure here
    // must not fail the commit: it leaves a longer fold, never a wrong one;
    // vacuum's own checkpoint call, by contrast, surfaces failures — it
    // deletes covered deltas)
    if (v >= CheckpointEvery &&
        v - ckptVersions(fs, root).filter(_ <= v).lastOption.getOrElse(0L) >= CheckpointEvery)
      try writeCheckpoint(root, fs, v)
      catch { case scala.util.control.NonFatal(_) => () }
    v
  }

  /** Materialize version `v`'s fold as checkpoint `ckpt-<v>` (tmp +
    * rename; LOSING A RENAME RACE to another checkpointer is benign — the
    * checkpoint exists either way — but any other rename failure SURFACES
    * as an IOException: callers that go on to delete the deltas the
    * checkpoint covers ([[vacuum]]) must never proceed on a silently
    * missing checkpoint, or kept versions lose their covering segment).
    * Every read of `v` or later then starts from this segment instead of
    * replaying the full delta history. */
  private def writeCheckpoint(root: Path, fs: FileSystem, v: Long): Unit = {
    val tmp = new Path(snapDir(root), s"tmpckpt-$v-${java.util.UUID.randomUUID()}")
    // one parquet file: a checkpoint is manifest-sized (≈50 MB / 10⁶ files
    // at 100 TB), not data-sized, so the next fold reads one footer
    ManifestCodec.write(fs, tmp, foldAt(fs, root, v))
    if (!fs.rename(tmp, ckptDir(root, v))) {
      fs.delete(tmp, true)
      if (!fs.exists(ckptDir(root, v))) throw new java.io.IOException(
        s"snapshot checkpoint rename failed at $root for ckpt-$v " +
          "(and no concurrent checkpointer won the slot)")
    }
  }

  /** Explicit maintenance form of the checkpoint roll (the auto roll
    * fires every [[CheckpointEvery]] commits). */
  def checkpointManifest(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot manifest checkpoint") {
      val v = currentVersion(spark, path)
      if (!fs.exists(ckptDir(root, v))) writeCheckpoint(root, fs, v)
    }
  }

  // ---- write operations (all serialize on the table Lease) -----------------

  /** Create the table as version 1. `clusterBy` range-partitions the rows
    * across `numFiles` files sorted within each — the layout that makes the
    * zone map TIGHT on those columns (disjoint per-file ranges), so range
    * scans and ranged deletes open O(range/table) files, not all of them. */
  def create(spark: SparkSession, df: DataFrame, path: String,
             statsColumns: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
             numFiles: Int = 0, owner: Option[String] = None,
             txn: Option[(String, Long)] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    statsColumns.foreach(c => require(
      statsEncoder(df.schema(c).dataType).isDefined,
      s"stats column $c: unsupported type ${df.schema(c).dataType}"))
    // owner: a streaming bootstrap's crash-replay re-acquires its own
    // stale lease (create is safely re-runnable until its commit marker
    // lands — a dead attempt's per-attempt data dir is unreferenced
    // garbage for vacuum; the marker is the only commit point)
    Lease.withLease(fs, root, "snapshot create", owner) {
      require(versions(spark, path).isEmpty, s"snapshot table already exists at $path")
      fs.mkdirs(snapDir(root))
      writeSmall(fs, formatPath(root), FormatVersion.toString, overwrite = true)
      writeSmall(fs, new Path(snapDir(root), "schema"), df.schema.toDDL, overwrite = true)
      writeSmall(fs, new Path(snapDir(root), "statscols"),
        statsColumns.mkString("\n"), overwrite = true)
      val shaped =
        if (clusterBy.nonEmpty && numFiles > 0)
          df.repartitionByRange(numFiles, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        else if (numFiles > 0) df.repartition(numFiles)
        else df
      // a frame whose optimized plan is an empty local relation (e.g.
      // `batch.limit(0)`, a pipeline's empty day-0 create) commits v1
      // with no data file: no write job, no zero-row part for vacuum
      val adds =
        if (isEmptyLocal(df)) Nil
        else writeData(spark, root, fs, 1L, shaped, statsColumns)._2.map(addRow(_))
      commitDelta(root, fs, 1L, adds ++ txn.map { case (id, b) => txnRow(id, b) }.toSeq,
        Nil, "create")
    }
  }

  /** True when `df` is known empty without running a job: its optimized
    * plan is a row-less local relation. */
  private def isEmptyLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** Batch-vs-table schema contract for content-replacing writes
    * (overwrite, merge): field NAMES and TYPES must match, order-
    * insensitive. A same-named column of a different type would commit
    * fine and then fail (or silently null) every later read that resolves
    * the file against the table schema — refuse at the write instead. */
  private def requireSchemaMatch(df: DataFrame, schema: StructType,
                                 what: String, path: String): Unit = {
    def sig(s: StructType): Seq[(String, DataType)] =
      s.fields.map(f => f.name -> f.dataType).toSeq.sortBy(_._1)
    require(sig(df.schema) == sig(schema),
      s"$what batch schema ${df.schema.toDDL} does not match table schema " +
        s"${schema.toDDL} at $path (names AND types, order-insensitive)")
  }

  /** Bounded optimistic retries for COMMUTATIVE commits (append,
    * dedup-append): on losing the version slot to another COMMITTED
    * writer, `body(attempt)` re-resolves the new head and re-commits —
    * the Delta-style rebase, here trivially safe because an append's
    * content is independent of the head it lands on (dedup-append
    * re-derives its anti-join against the new head inside `body`).
    * Non-commutative operations (delete/update/merge/compact) never come
    * here: their rewrite was computed against a specific head, so the
    * refusal stands. A STAGED (marker-less) slot never rebases either —
    * it is a write-audit-publish reservation. */
  private def withCommitRebase(what: String)(body: Int => Long): Long = {
    val maxAttempts = 4
    var attempt = 0
    while (true) {
      try return body(attempt)
      catch {
        case c: CommitConflictException
            if c.committedWinner && attempt < maxAttempts - 1 =>
          attempt += 1 // rebase onto the new head and retry
      }
    }
    sys.error(s"$what: unreachable")
  }

  /** Multiset append: ONE delta segment naming only the new files; every
    * current file carries forward implicitly (the fold), so the commit
    * never reads, collects, or rewrites the table's file list — O(batch)
    * at any table size. On losing the commit slot to another committed
    * writer, the already-written files re-commit against the new head
    * (append is commutative; the staged bytes are head-independent).
    * `txn = Some((lineageId, batchId))` makes the append TRANSACTIONALLY
    * IDEMPOTENT per lineage: a [[txnRow]] commits in the same atomic
    * segment as the files, and a replay whose batchId is at or below the
    * recorded mark returns the current version without writing — the
    * exactly-once contract a streaming sink needs across the
    * crash-between-commit-and-checkpoint window. */
  def append(spark: SparkSession, df: DataFrame, path: String,
             txn: Option[(String, Long)] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot append") {
      val cur0 = currentVersion(spark, path)
      val replayed = txn.exists { case (id, b) =>
        lastTxn(spark, path, id).exists(_ >= b)
      }
      if (replayed) cur0
      else {
        val (dataDir, newEs) =
          writeData(spark, root, fs, cur0 + 1, df, statsCols(fs, root))
        if (newEs.isEmpty) { // empty batch: a true no-op, not an empty version
          fs.delete(dataDir, true)
          cur0
        } else withCommitRebase("snapshot append") { _ =>
          // re-resolve per attempt; the data dir's name keeps the FIRST
          // attempt's slot number — cosmetic only, paths are opaque
          commitDelta(root, fs, currentVersion(spark, path) + 1,
            newEs.map(addRow(_)) ++
              txn.map { case (id, b) => txnRow(id, b) }.toSeq,
            Nil, "append")
        }
      }
    }
  }

  /** Keyed idempotent append (the reference's ON CONFLICT DO NOTHING on the
    * snapshot substrate): in-batch survivor per key by deterministic total
    * order, then anti-join against the CURRENT VERSION's keys (column-pruned
    * scan). Re-delivered batches are no-ops; unlike [[DedupAppend]] the
    * commit is atomic, so a crash mid-append never leaves half a batch
    * visible. */
  def appendDedup(spark: SparkSession, df: DataFrame, path: String,
                  keys: Seq[String], tieBreak: Seq[String],
                  owner: Option[String] = None,
                  txn: Option[(String, Long)] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    // streaming maintainers pass their checkpoint location as `owner` so a
    // crashed lineage's restart re-acquires its own stale lease; the
    // replayed batch is already a version-preserving no-op below
    Lease.withLease(fs, root, "snapshot dedup append", owner) {
      // the txn mark ([[append]]) short-circuits a same-lineage replay
      // BEFORE the key anti-join — the content-level idempotence below
      // stays as the cross-lineage (fresh-checkpoint) safety net
      val curT = currentVersion(spark, path)
      val foldT = committedFold(spark, path, curT)
      val replayed = txn.exists { case (id, b) => txnMark(foldT, id).exists(_ >= b) }
      if (replayed) curT
      else withCommitRebase("snapshot dedup append") { attempt =>
        // each attempt re-derives the anti-join against the CURRENT head:
        // a rebase after losing the slot must re-check its keys against
        // whatever the winning commit added, or a key that just landed
        // would be silently duplicated — so unlike plain append, the
        // rebase re-filters and re-writes (the lost attempt's data dir is
        // vacuum garbage)
        val cur = currentVersion(spark, path)
        // the head's fold is the one read above unless a rebase moved it
        val rows = if (cur == curT) foldT else committedFold(spark, path, cur)
        val inBatch = DedupAppend.survivors(df, keys, tieBreak)
        val fresh = inBatch.join(
          readFold(spark, root, fs, rows).select(keys.map(col): _*), keys, "left_anti")
        val v = cur + 1
        val (dataDir, newEs) = writeData(spark, root, fs, v, fresh, statsCols(fs, root))
        if (newEs.isEmpty) { // fully re-delivered batch: idempotent no-op
          fs.delete(dataDir, true)
          cur
        } else commitDelta(root, fs, v,
          newEs.map(addRow(_)) ++
            txn.map { case (id, b) => txnRow(id, b) }.toSeq,
          Nil, "append_dedup")
      }
    }
  }

  /** Replace the table's contents in ONE atomic commit (the format API's
    * SaveMode.Overwrite): the delta removes every current data and
    * tombstone file and adds the batch's files. Readers of prior
    * versions are untouched — the old state stays time-travelable until
    * [[vacuum]] ages it out; a crash leaves the previous version live.
    * The batch schema must match the table's (an overwrite is a content
    * replacement, not an evolution — [[evolveAddColumn]] is that). */
  def overwrite(spark: SparkSession, df: DataFrame, path: String): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot overwrite") {
      val cur = currentVersion(spark, path)
      val schema = tableSchema(fs, root)
      requireSchemaMatch(df, schema, "overwrite", path)
      val removed = { val (es, tombs) = liveSplit(spark, path, cur)
        es.map(_.path) ++ tombs.map(_.path) }
      val v = cur + 1
      commitDelta(root, fs, v,
        writeData(spark, root, fs, v,
          df.select(schema.fieldNames.toSeq.map(col): _*),
          statsCols(fs, root))._2.map(addRow(_)),
        removed, "overwrite")
    }
  }

  /** Which current files contain rows matching `pred`: manifest-range
    * pre-prune (when hinted), then ONE distributed scan with the predicate
    * pushed to the reader. Returns (touched, untouched-by-reference). */
  private def splitTouched(spark: SparkSession, path: String, root: Path,
                           es: Seq[FileEntry], pred: Column,
                           hint: Option[RangeHint]): (Seq[FileEntry], Seq[FileEntry]) = {
    val candidates = hint match {
      case Some(h) => pruned(es, h.col, h.lo, h.hi)
      case None => es
    }
    val candSet = candidates.map(_.path).toSet
    val carried0 = es.filterNot(e => candSet.contains(e.path))
    if (candidates.isEmpty) return (Nil, es)
    val fs = fsOf(spark, root)
    val touchedAbs = readFiles(spark, path, candidates)
      .filter(pred <=> lit(true))
      .select(col("_metadata.file_path")).distinct().collect()
      .map(r => relOf(fs, root, r.getString(0))).toSet
    val (touched, clean) = candidates.partition(e => touchedAbs.contains(e.path))
    (touched, carried0 ++ clean)
  }

  /** Copy-on-write DELETE: rewrite only the files containing matching rows
    * (with the matches dropped; null predicate keeps the row, SQL-style),
    * carry every other file by reference. A predicate matching nothing
    * commits nothing and returns the current version unchanged. */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  hint: Option[RangeHint] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot delete") {
      val cur = currentVersion(spark, path)
      val (es, tombs) = liveSplit(spark, path, cur)
      val (touched, _) = splitTouched(spark, path, root, es, pred, hint)
      if (touched.isEmpty) cur
      else {
        val v = cur + 1
        // rewrite from the RESOLVED rows: on a tombstoned table a raw
        // rewrite would resurrect dead rows into the fresh files
        val kept = readFilesResolved(spark, root, fs, touched,
          tombs, tableSchema(fs, root))
          .filter(!(pred <=> lit(true)))
        // delta: the rewritten files in, the touched originals out — the
        // untouched majority is never even named
        commitDelta(root, fs, v,
          writeData(spark, root, fs, v, kept, statsCols(fs, root))._2.map(addRow(_)),
          touched.map(_.path), "delete")
      }
    }
  }

  /** Copy-on-write UPDATE: each assigned column becomes
    * `CASE WHEN pred THEN expr ELSE old END` in the rewritten (touched)
    * files only; untouched files carry by reference. Row count and schema
    * are invariant by construction. */
  def updateWhere(spark: SparkSession, path: String, pred: Column,
                  set: Map[String, Column],
                  hint: Option[RangeHint] = None): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot update") {
      val cur = currentVersion(spark, path)
      val schema = tableSchema(fs, root)
      set.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"update of unknown column $c"))
      val (es, tombs) = liveSplit(spark, path, cur)
      val (touched, _) = splitTouched(spark, path, root, es, pred, hint)
      if (touched.isEmpty) cur
      else {
        val v = cur + 1
        val updated = readFilesResolved(spark, root, fs, touched,
          tombs, schema).select(
          schema.fieldNames.toSeq.map { c =>
            set.get(c) match {
              case Some(e) =>
                when(pred <=> lit(true), e.cast(schema(c).dataType)).otherwise(col(c)).as(c)
              case None => col(c)
            }
          }: _*)
        commitDelta(root, fs, v,
          writeData(spark, root, fs, v, updated, statsCols(fs, root))._2.map(addRow(_)),
          touched.map(_.path), "update")
      }
    }
  }

  /** MERGE (upsert): update matched keys to the batch's row, insert
    * unmatched keys — the reference's `ON CONFLICT DO NOTHING` upgraded to
    * `DO UPDATE`, in ONE atomic commit. Copy-on-write at file granularity:
    * the files containing matched keys are found by one semi-join-shaped
    * scan (batch keys broadcast when small), rewritten with the matched
    * rows REPLACED by the batch's version; every other file carries by
    * reference; unmatched batch rows land as new files. A crash anywhere
    * before the commit marker leaves the previous version intact — there
    * is no window where updates are visible without their inserts (the
    * failure mode of the two-step delete+append spelling on plain
    * parquet). In-batch duplicates collapse to one row per key by the
    * same deterministic total order as [[DedupAppend]].
    *
    * At 100 TB: merge cost = (files holding matched keys) + (batch
    * bytes); a key-range-clustered table with a ranged batch touches
    * O(range) files. Each file's rewrite is `anti-join keys, union batch
    * slice` — shuffle on the key only. `hint`, when given, must bound the
    * stats-column value of every batch key THAT MAY ALREADY EXIST in the
    * table (not a predicate's range): a matched key outside the hinted
    * range would be silently re-inserted as a duplicate. Keys that cannot
    * match (e.g. inserts minted past the table's max) need not be covered
    * — excluding them is exactly what keeps a small-update+new-inserts
    * merge pruned to the update range's files. `verifyHint = true` audits
    * the promise physically ([[auditHint]]): a lying hint refuses loudly
    * instead of silently duplicating. */
  def merge(spark: SparkSession, batch: DataFrame, path: String,
            keys: Seq[String], tieBreak: Seq[String],
            hint: Option[RangeHint] = None,
            owner: Option[String] = None,
            verifyHint: Boolean = false): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot merge", owner) {
      val cur = currentVersion(spark, path)
      val (es, tombs) = liveSplit(spark, path, cur)
      val schema = tableSchema(fs, root)
      requireSchemaMatch(batch, schema, "merge", path)
      val one = DedupAppend.survivors(
        batch.select(schema.fieldNames.toSeq.map(col): _*), keys, tieBreak)
        .localCheckpoint(true) // read 3×: touched-file probe, replace, anti
      // files holding matched keys: manifest pre-prune, then one scan
      // filtered by a semi join against the (typically small) batch keys
      val candidates = hint match {
        case Some(h) => pruned(es, h.col, h.lo, h.hi)
        case None => es
      }
      if (verifyHint && hint.nonEmpty)
        auditHint(spark, root, fs, path, es, candidates, one, keys, hint.get)
      // no broadcast hint on the batch-key side: AQE picks broadcast when
      // the batch is actually small and falls back to a shuffled join when
      // it is not — a forced hint would OOM the driver on a large merge
      val touchedSet: Set[String] =
        if (candidates.isEmpty) Set.empty
        else readFiles(spark, path, candidates)
          // _metadata resolves only on the scan itself — materialize it
          // before the join or the hidden column is gone
          .select(col("_metadata.file_path").as("__fp") +: keys.map(col): _*)
          .join(one.select(keys.map(col): _*), keys, "left_semi")
          .select(col("__fp")).distinct().collect()
          .map(r => relOf(fs, root, r.getString(0))).toSet
      val touched = candidates.filter(e => touchedSet.contains(e.path))
      // every matched key's row lives in a touched file BY CONSTRUCTION,
      // so the rewrite is simply: touched files' rows whose key is not in
      // the batch, union the whole batch (matched rows replaced, unmatched
      // inserted) — one anti-join on the key, nothing else
      val rewritten =
        if (touched.isEmpty) one
        else readFilesResolved(spark, root, fs, touched, tombs, schema)
          .join(one.select(keys.map(col): _*), keys, "left_anti")
          .select(schema.fieldNames.toSeq.map(col): _*)
          .unionByName(one)
      val v = cur + 1
      val (dataDir, newEs) = writeData(spark, root, fs, v, rewritten, statsCols(fs, root))
      if (newEs.isEmpty && touched.isEmpty) { // empty batch: true no-op
        fs.delete(dataDir, true)
        cur
      } else commitDelta(root, fs, v, newEs.map(addRow(_)),
        touched.map(_.path), "merge")
    }
  }

  /** Compaction on the snapshot substrate: rewrite the CURRENT file set to
    * ~`targetFileBytes` files as a new version (readers of old versions are
    * untouched — no swap dance, no reader race; old files age out via
    * [[vacuum]]). `clusterBy` restores range clustering so the zone map
    * stays tight after the rewrite; `zOrderBy` (mutually exclusive)
    * interleaves TWO numeric columns' bits into one Z-value and clusters
    * on that — each file then holds a small rectangle of the 2-D key
    * space, so the zone map is tight in BOTH dimensions and
    * [[graft.plans.SnapshotFileIndex]] prunes a filter on EITHER column.
    * Linear clustering makes one column's intervals tight and leaves the
    * other's spanning the whole domain; Z-ordering pays ~√ of each —
    * the standard multi-dimensional data-skipping layout. */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long,
              clusterBy: Seq[String] = Nil, zOrderBy: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive")
    require(zOrderBy.isEmpty || zOrderBy.size == 2,
      s"zOrderBy supports exactly two columns, got ${zOrderBy.size}")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot compact") {
      val cur = currentVersion(spark, path)
      val (es, tombs) = liveSplit(spark, path, cur)
      val bytes = es.map(_.bytes).sum
      val nOut = math.min(Int.MaxValue.toLong,
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)).toInt
      // the compaction read RESOLVES tombstones: the rewritten files carry
      // the net rows, and the delta below drops every tombstone — this is
      // what folds merge-on-read deletes back into a pure file table
      val df = readFilesResolved(spark, root, fs, es, tombs, tableSchema(fs, root))
      val shaped =
        if (zOrderBy.nonEmpty) {
          // VALUE-based normalization from the manifest's own global
          // [min,max] (integral stats columns): each column maps to 8
          // bits, interleaved by the classic shift-and-mask spread. No
          // rank pass, no window, no extra shuffle — the clustering
          // write's range exchange is the only data movement. Skewed
          // values give uneven bucket occupancy (zone-map tightness only
          // needs LOCALITY, which value buckets give); a rank-based
          // variant would buy uniformity at the cost of two rank passes.
          def spread8(c: Column): Column = {
            val c1 = (c.bitwiseOR(shiftleft(c, 4))).bitwiseAND(lit(0x0F0FL))
            val c2 = (c1.bitwiseOR(shiftleft(c1, 2))).bitwiseAND(lit(0x3333L))
            (c2.bitwiseOR(shiftleft(c2, 1))).bitwiseAND(lit(0x5555L))
          }
          val Seq(a, b) = zOrderBy
          def bound(c: String, hi: Boolean): Long = {
            val vs = es.flatMap(_.stats.get(c))
            require(vs.nonEmpty, s"zOrderBy column $c has no recorded stats")
            require(vs.head.kind == "num", s"zOrderBy column $c must be numeric")
            val bs = vs.map(s => BigDecimal(if (hi) s.hi else s.lo))
            (if (hi) bs.max else bs.min).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
          }
          def bits8(c: String): Column = {
            val (lo, hi) = (bound(c, hi = false), bound(c, hi = true))
            val span = math.max(1L, hi - lo + 1L)
            expr(s"((`$c` - ${lo}L) * 256) div ${span}L")
          }
          df.withColumn("__z", spread8(bits8(a)) + shiftleft(spread8(bits8(b)), 1))
            .repartitionByRange(nOut, col("__z")).sortWithinPartitions(col("__z"))
            .drop("__z")
        } else if (clusterBy.nonEmpty)
          df.repartitionByRange(nOut, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        else df.repartition(nOut)
      val v = cur + 1
      // compaction's delta removes EVERY current file (data and any live
      // row tombstones — the rewrite read is tombstone-resolved, so the
      // new files carry the net rows and the tombstones fold away here)
      commitDelta(root, fs, v,
        writeData(spark, root, fs, v, shaped, statsCols(fs, root))._2.map(addRow(_)),
        es.map(_.path) ++ tombs.map(_.path),
        "compact")
    }
  }

  /** WRITE-AUDIT-PUBLISH, stage half: write the batch's data files and
    * manifest for version current+1 but NOT the commit marker — the
    * staged version is INVISIBLE to every reader (versions/read resolve
    * only marker-committed manifests) while being fully inspectable via
    * [[readStaged]]. The audit step runs any checks against exactly the
    * bytes that would be published; [[publish]] then commits with one
    * marker create, or [[abandon]] drops the staging (a crashed auditor's
    * staging is also reclaimed by vacuum, which already removes
    * marker-less manifests). The lease is held only during stage — the
    * audit itself can be long and holds nothing. Staging RESERVES the
    * next version slot: any other maintenance landing during the audit
    * refuses loudly at its commit point (the staged manifest occupies the
    * version), so the audited bytes are exactly what publishes; publish
    * additionally re-checks the staged version is still current+1 as
    * belt-and-suspenders against an abandon+recommit interleave. */
  def stageAppend(spark: SparkSession, df: DataFrame, path: String): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot stage") {
      val cur = currentVersion(spark, path)
      val v = cur + 1
      val (dataDir, newEs) = writeData(spark, root, fs, v, df, statsCols(fs, root))
      val tmp = new Path(snapDir(root), s"tmp-$v-${java.util.UUID.randomUUID()}")
      ManifestCodec.write(fs, tmp, newEs.map(addRow(_)))
      val dst = manifestDir(root, v)
      if (fs.exists(dst) || fs.exists(markerPath(root, v)) || !fs.rename(tmp, dst)) {
        fs.delete(tmp, true)
        fs.delete(dataDir, true)
        throw new java.io.IOException(
          s"snapshot stage conflict at $root: version $v already staged or committed")
      }
      v
    }
  }

  /** Read a STAGED (unpublished) version — the audit's input: the
    * committed base's fold plus the staged delta segment. */
  def readStaged(spark: SparkSession, path: String, v: Long): DataFrame = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(fs.exists(manifestDir(root, v)) && !fs.exists(markerPath(root, v)),
      s"version $v at $path is not a staged (unpublished) version")
    require(fs.exists(markerPath(root, v - 1)),
      s"staged version $v at $path has no committed base v${v - 1}")
    readFold(spark, root, fs, foldRows(
      (segmentDirs(fs, root, v - 1) :+ manifestDir(root, v)).flatMap(readSegment(fs, root, _))))
  }

  /** Publish a staged version: ONE marker create — the same atomic commit
    * point as every other operation. Refuses if the staged version is no
    * longer current+1 (another commit landed mid-audit: the audited bytes
    * would not be what lands), and verifies every file the staged manifest
    * references still exists — belt-and-suspenders against any interleave
    * that reclaimed staged bytes (per-attempt data dirs already make a
    * concurrent writer unable to TOUCH them; this catches an operator's
    * manual deletion or an errant vacuum of a foreign table copy). */
  def publish(spark: SparkSession, path: String, v: Long): Long = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot publish") {
      require(fs.exists(manifestDir(root, v)), s"no staged manifest v$v at $path")
      val cur = currentVersion(spark, path)
      if (cur != v - 1) throw new java.io.IOException(
        s"snapshot publish conflict at $path: staged v$v audited against v${v - 1} " +
          s"but current is v$cur — re-stage against the new current version")
      val stagedAdds = ManifestCodec.read(fs, manifestDir(root, v)).filter(_.action == "add")
      val missing = stagedAdds.filterNot(e => fs.exists(new Path(root, e.path)))
      if (missing.nonEmpty) throw new java.io.IOException(
        s"snapshot publish refused at $path: staged v$v references " +
          s"${missing.size} missing data file(s) (e.g. ${missing.head.path}) — " +
          "the audited bytes are gone; abandon and re-stage")
      val out =
        try fs.create(markerPath(root, v), false)
        catch {
          case scala.util.control.NonFatal(_) => throw new java.io.IOException(
            s"snapshot publish conflict at $path: version $v already committed")
        }
      try out.write(
        (s"op=publish parent=${v - 1} adds=${stagedAdds.size} removes=0 " +
          s"ts=${System.currentTimeMillis()}")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      v
    }
  }

  /** Drop a staged version that failed its audit: manifest dir + every
    * per-attempt data dir written for that version slot (never any
    * committed version's files — the marker-absence check guards that,
    * and a racing committer for the same slot holds the lease too). */
  def abandon(spark: SparkSession, path: String, v: Long): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot abandon") {
      require(!fs.exists(markerPath(root, v)),
        s"version $v at $path is committed — abandon refuses; use vacuum/delete")
      fs.delete(manifestDir(root, v), true)
      val dataDir = new Path(root, "data")
      if (fs.exists(dataDir))
        fs.listStatus(dataDir).iterator
          .filter { s =>
            val n = s.getPath.getName
            n == s"c$v" || n.startsWith(s"c$v-")
          }
          .foreach(s => fs.delete(s.getPath, true))
      ()
    }
  }

  /** Incremental change read: the NET row-level delta between two
    * committed versions, as (`change_type` ∈ insert|delete, row…). The
    * manifest diff does the heavy lifting: only files present in exactly
    * one of the two versions are read at all — every carried-by-reference
    * file is skipped without opening it, so a downstream consumer pays
    * for the churn between the versions, never the table. Net semantics
    * via exact multiset difference (exceptAll both ways): an update is an
    * insert+delete pair, and a pure rewrite (compaction) that changed
    * files but not content yields an EMPTY delta. A window's trailing
    * [[compact]] commits are answered from their MARKERS alone: compaction
    * rewrites the tombstone-resolved rows, so its net delta is empty by
    * construction, and the diff runs against the last commit before them
    * (a window of compactions alone is empty with no job and no fold;
    * the law in SnapshotStoreSpec checks `read(v-1) == read(v)` across a
    * compaction so this shortcut cannot pass vacuously). This is what lets an
    * incremental consumer (a maintained MV, a replica, an index) follow
    * the table version-by-version without ever re-scanning it.
    *
    * Bound: the general case replicates a changed row |net| times via
    * `explode(sequence(1, |net|))`, which materializes one |net|-element
    * array per DISTINCT changed row — fine for real deltas (|net| = the
    * change in one exact row's multiplicity between two versions; >1
    * already means the table holds duplicate rows), but a pathological
    * delta moving one row's count by millions would build a multi-MB
    * array where exceptAll's ReplicateRows streamed. If that shape ever
    * becomes real, chunk the sequence (explode twice over √net) or a
    * generator; until then the aggregation form's one-Exchange/one-scan
    * win stands. */
  def changesBetween(spark: SparkSession, path: String,
                     fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var to = toV
    while (to > fromV && markerOp(fs, root, to).contains("compact")) to -= 1
    if (to > fromV)
      changesBetweenSplits(spark, root, fs,
        liveSplit(spark, path, fromV), liveSplit(spark, path, to))
    else {
      require(fs.exists(markerPath(root, fromV)), s"version $fromV not committed at $path")
      emptyChanges(spark, changeSchema(fs, root))
    }
  }

  /** The op a committed version's marker records; None when the marker
    * is missing or carries no op (callers then take the general path,
    * which refuses a missing version loudly). */
  private def markerOp(fs: FileSystem, root: Path, v: Long): Option[String] =
    try markerFields(fs, root, v).get("op")
    catch { case _: java.io.FileNotFoundException => None }

  /** The table schema, refused when it collides with the change feed's
    * reserved names. The guard covers EVERY branch (the fast paths add
    * change_type too, and the general case additionally derives the
    * sign/net/replicate scratch columns): a colliding table schema must
    * refuse uniformly across commit shapes, never silently overwrite. */
  private def changeSchema(fs: FileSystem, root: Path): StructType = {
    val schema = tableSchema(fs, root)
    require(Seq("__chg_sign", "__chg_net", "__chg_rep", "change_type")
        .forall(c => !schema.fieldNames.contains(c)),
      s"changesBetween: table schema collides with reserved column names")
    schema
  }

  /** An empty change set: a local relation, so collecting it runs no job. */
  private def emptyChanges(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .withColumn("change_type", lit("insert"))

  /** [[changesBetween]] over PRE-COMPUTED manifest folds — the seam
    * multi-version consumers ([[changeFeedLegs]]) use so adjacent steps
    * share each boundary version's fold instead of paying it twice. */
  private def changesBetweenSplits(spark: SparkSession, root: Path,
                                   fs: FileSystem,
                                   fromSplit: (Seq[FileEntry], Seq[FileEntry]),
                                   toSplit: (Seq[FileEntry], Seq[FileEntry])): DataFrame = {
    val schema = changeSchema(fs, root)
    val (fromEs, fromTombs) = fromSplit
    val (toEs, toTombs) = toSplit
    val fromPaths = fromEs.map(_.path).toSet
    val toPaths = toEs.map(_.path).toSet
    // files whose VISIBLE content changed without moving: targets of
    // tombstones added in the window (merge-on-read deletes) — the file
    // is in both manifests but its live rows shrank
    val fromTombPaths = fromTombs.map(_.path).toSet
    val newTombs = toTombs.filterNot(t => fromTombPaths.contains(t.path))
    val retombed: Set[String] =
      if (newTombs.isEmpty) Set.empty
      else spark.read.schema(tombSchema(schema))
        .parquet(newTombs.map(t => new Path(root, t.path).toString): _*)
        .select(col(TombFileCol)).distinct().collect().map(_.getString(0)).toSet
    def changed(es: Seq[FileEntry], otherPaths: Set[String]) =
      es.filter(e => !otherPaths.contains(e.path) || retombed.contains(e.path))
    // each side reads ONLY its changed files, resolved under ITS version's
    // tombstones — carried-and-untombstoned files are never opened
    val beforeFiles = changed(fromEs, toPaths)
    val afterFiles = changed(toEs, fromPaths)
    val before = readFilesResolved(spark, root, fs, beforeFiles, fromTombs, schema)
    val after = readFilesResolved(spark, root, fs, afterFiles, toTombs, schema)
    // One-sided fast paths: when a side of the manifest diff names NO
    // files, the multiset difference degenerates (X ∖ ∅ = X, ∅ ∖ X = ∅)
    // — return the surviving side directly, zero exchanges. A pure APPEND
    // (the dominant commit shape at scale, and what a CDC subscriber
    // mostly follows) then reads only the new files with no shuffle at
    // all; a pure file-drop (delete-all) is the mirror case. [measured
    // r10: plans/r10/changes_append_{before,after}.txt — 4 Exchange +
    // double-scan → 0 Exchange, single scan]
    if (beforeFiles.isEmpty)
      after.withColumn("change_type", lit("insert"))
    else if (afterFiles.isEmpty)
      before.withColumn("change_type", lit("delete"))
    else {
      // General case: net multiset difference in ONE aggregation. The
      // exceptAll pair this replaces planned each side's scan TWICE and
      // paid four Exchanges (two RewriteExceptAll aggregations); tagging
      // the union with a ±1 sign and grouping once over the row yields
      // the identical multiset — after.exceptAll(before) is exactly the
      // rows with positive net count, replicated net times; the delete
      // direction is the negative net — for one Exchange and one scan
      // per side. Null grouping keys compare equal in both forms, so
      // null-row semantics are unchanged. [measured r10:
      // plans/r10/changes_rewrite_{before,after}.txt]
      val signCol = "__chg_sign"
      val netCol = "__chg_net"
      val cols = schema.fieldNames.toSeq
      val net = after.withColumn(signCol, lit(1L))
        .unionByName(before.withColumn(signCol, lit(-1L)))
        .groupBy(cols.map(col): _*)
        .agg(sum(col(signCol)).as(netCol))
        .filter(col(netCol) =!= 0L)
      net.withColumn("change_type",
          when(col(netCol) > 0L, lit("insert")).otherwise(lit("delete")))
        .withColumn("__chg_rep",
          explode(sequence(lit(1L), abs(col(netCol)))))
        .select(cols.map(col) :+ col("change_type"): _*)
    }
  }

  /** The change feed over committed versions [fromV, toV] as a sequence
    * of LEGS, each (table cols…, change_type, _commit_version). Version 1
    * in range delivers the initial snapshot as inserts; version v > 1
    * delivers [[changesBetween]](v-1, v).
    *
    * Two multi-version optimizations a per-version changesBetween loop
    * cannot see (r11):
    *
    *  1. MAXIMAL RUNS OF PURE-APPEND COMMITS (op ∈ create/append/
    *     append_dedup with removes=0 — classified from the commit MARKERS,
    *     driver-only reads, no job) coalesce into ONE plain-scan leg. An
    *     append step's delta is exactly its own added data files: nothing
    *     is removed, and no tombstone can target a file younger than
    *     itself, so the run's files are disjoint, untombstoned, and each
    *     encodes its commit in its `data/c<v>-…` directory — verified
    *     driver-side against the manifest before the filename recovery is
    *     trusted (any mismatch falls back to per-version file legs, same
    *     rows). A 100-version append backfill plans ~1 scan leg instead
    *     of 100 diff legs, and reads each run's manifests ONCE (segment
    *     adds) instead of the 2 full folds per version the loop paid —
    *     O(versions) metadata reads, not O(versions²).
    *
    *  2. NON-APPEND STEPS share each boundary version's manifest fold
    *     through [[changesBetweenSplits]] (the loop folded every interior
    *     version twice).
    *
    * A [[compact]] step delivers no leg, classified from its marker like
    * the append runs: compaction's net delta is empty by construction
    * (see [[changesBetween]]). A range of compactions alone yields one
    * empty leg, so callers can always union the legs. */
  def changeFeedLegs(spark: SparkSession, path: String,
                     fromV: Long, toV: Long): Seq[DataFrame] = {
    require(1L <= fromV && fromV <= toV,
      s"changeFeedLegs: bad version range [$fromV, $toV]")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val schema = tableSchema(fs, root)
    val appendOps = Set("create", "append", "append_dedup")
    val markers = (fromV to toV).map(w => w -> markerFields(fs, root, w)).toMap
    def pureAppend(v: Long): Boolean = {
      val f = markers(v)
      f.get("op").exists(appendOps.contains) && f.get("removes").contains("0") &&
        // vacuum may delete the oldest KEPT version's delta segment (its
        // fold rides the checkpoint): such a version must take the
        // fold-based diff step, never the segment-read run
        fs.exists(manifestDir(root, v))
    }
    // group the range into maximal append runs and single diff steps
    val groups = scala.collection.mutable.ArrayBuffer.empty[Either[Seq[Long], Long]]
    var v = fromV
    while (v <= toV) {
      if (pureAppend(v)) {
        val run = scala.collection.mutable.ArrayBuffer(v)
        while (v + 1 <= toV && pureAppend(v + 1)) { v += 1; run += v }
        groups += Left(run.toSeq)
      } else if (!markers(v).get("op").contains("compact")) groups += Right(v)
      v += 1
    }
    // diff steps share boundary folds (step v needs v-1 and v; adjacent
    // diff steps share the middle version's fold through this cache)
    val splits = scala.collection.mutable.Map.empty[Long, (Seq[FileEntry], Seq[FileEntry])]
    def splitOf(w: Long) = splits.getOrElseUpdate(w, liveSplit(spark, path, w))
    def emptyLeg: DataFrame =
      emptyChanges(spark, schema).withColumn("_commit_version", lit(fromV))
    if (groups.isEmpty) return Seq(emptyLeg)
    groups.toSeq.flatMap {
      case Right(1L) => // non-append v1 (e.g. publish): the full snapshot
        val (es, tombs) = splitOf(1L)
        Seq(readFilesResolved(spark, root, fs, es, tombs, schema)
          .withColumn("change_type", lit("insert"))
          .withColumn("_commit_version", lit(1L)))
      case Right(w) =>
        Seq(changesBetweenSplits(spark, root, fs, splitOf(w - 1), splitOf(w))
          .withColumn("_commit_version", lit(w)))
      case Left(run) =>
        // every added data file of the run, tagged with the version of
        // the SEGMENT it was read from — driver reads, no job
        val adds: Seq[(Long, String)] = run.flatMap(w =>
          readSegment(fs, root, manifestDir(root, w))
            .filter(r => r.action == "add" && r.kind == "data").map(r => (w, r.path)))
        val dirForm = "^data/c([0-9]+)(-[^/]*)?/[^/]+$".r
        if (adds.isEmpty) Seq(emptyLeg)
        else if (adds.forall { case (w, rel) =>
          dirForm.findFirstMatchIn(rel).exists(_.group(1) == w.toString) }) {
          // coalesced: ONE scan over the run's files; the per-commit data
          // directory (data/c<v>-…) is the version, end-anchored so no
          // upstream path component can shadow it
          Seq(spark.read.schema(schema)
            .parquet(adds.map { case (_, rel) => new Path(root, rel).toString }: _*)
            .withColumn("change_type", lit("insert"))
            .withColumn("_commit_version",
              regexp_extract(input_file_name(),
                "/data/c([0-9]+)(-[^/]*)?/[^/]+$", 1).cast(LongType)))
        } else {
          // naming did not verify: per-version file legs (same rows, one
          // scan leg per version, still no manifest folds)
          adds.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, rels) =>
            spark.read.schema(schema)
              .parquet(rels.map { case (_, rel) => new Path(root, rel).toString }: _*)
              .withColumn("change_type", lit("insert"))
              .withColumn("_commit_version", lit(w))
          }
        }
    }
  }

  /** Reclaim storage: keep the newest `keepVersions` committed versions,
    * delete every data file referenced by NO kept version, every dropped
    * version's delta segment+marker, stale checkpoints, and crashed
    * committers' tmp dirs. Before dropping anything, a checkpoint is
    * materialized AT the oldest kept version, so every kept version's
    * fold is independent of the dropped deltas. Time travel inside the
    * kept window is untouched; reads beyond it now refuse (their marker
    * is gone) instead of returning partial data. The referenced set is
    * computed as one distributed pass over the kept segments (add rows),
    * collected only as the final pruned path set. Returns (data files
    * deleted, versions dropped). */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int): (Long, Long) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    Lease.withLease(fs, root, "snapshot vacuum") {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no committed snapshot at $path")
      val (dropped, kept) = vs.splitAt(math.max(0, vs.size - keepVersions))
      val oldest = kept.head
      // 1. checkpoint at the oldest kept version: kept folds then start
      //    there and never need a dropped delta (crash-safe — an extra
      //    checkpoint is only ever redundant, never wrong). The existence
      //    re-check is the destructive-path guard: NOTHING below may
      //    delete a marker, delta, or data file unless the covering
      //    checkpoint is physically down — a swallowed write failure here
      //    would otherwise compute `referenced` without the pre-window
      //    live files (data loss) and leave kept folds without a segment.
      if (dropped.nonEmpty && !ckptVersions(fs, root).contains(oldest))
        writeCheckpoint(root, fs, oldest)
      if (dropped.nonEmpty) require(fs.exists(ckptDir(root, oldest)),
        s"vacuum: checkpoint at oldest kept version $oldest missing at $root " +
          "— refusing to drop deltas/files without their covering checkpoint")
      // a marker-less manifest ABOVE the committed head is an in-flight
      // write-audit-publish staging: its files are protected (abandon is
      // the explicit cleanup), unlike tmp-* dirs which are always garbage
      val sdList = fs.listStatus(snapDir(root)).iterator.map(_.getPath.getName).toSeq
      val staged = sdList.filter(_.startsWith("v"))
        .flatMap(n => n.stripPrefix("v").toLongOption)
        .filter(v => v > vs.last && !fs.exists(markerPath(root, v)))
      // 2. referenced = every path some kept version's fold can name: all
      //    add rows across the kept window's segments (the checkpoint
      //    covers everything older) plus staged deltas — one distributed
      //    pass, collect only the final path set
      val c = ckptVersions(fs, root).filter(_ <= oldest).lastOption.getOrElse(0L)
      val keptSegs = (if (c > 0) Seq(ckptDir(root, c)) else Nil) ++
        ((c + 1) to vs.last).map(manifestDir(root, _)) ++
        staged.map(manifestDir(root, _))
      // referenced stays a DATASET — never collected: at 10⁷ files a
      // driver-side Set here is the next memory ceiling in this path
      val referencedDf = spark.read.schema(Encoders.product[ManifestRow].schema)
        .parquet(keptSegs.map(_.toString): _*)
        .filter(col("action") === "add").select(col("path")).distinct()
      // markers first: a crash mid-vacuum must never leave a version that
      // LOOKS committed but whose files are partially deleted
      dropped.foreach { v =>
        if (!fs.delete(markerPath(root, v), false))
          throw new java.io.IOException(s"vacuum: could not drop commit marker $v")
        fs.delete(manifestDir(root, v), true)
      }
      // the oldest kept version's own delta is also covered by the new
      // checkpoint; stale checkpoints below it serve no kept fold
      if (dropped.nonEmpty) {
        fs.delete(manifestDir(root, oldest), true)
        ckptVersions(fs, root).filter(_ < oldest)
          .foreach(cv => fs.delete(ckptDir(root, cv), true))
      }
      // crashed committers/checkpointers: tmp dirs never referenced
      val sd = snapDir(root)
      fs.listStatus(sd).iterator.filter { s =>
        val n = s.getPath.getName
        n.startsWith("tmp-") || n.startsWith("tmpckpt-")
      }.foreach(s => fs.delete(s.getPath, true))
      // DISTRIBUTED GC: the driver lists only the FIRST-LEVEL commit dirs
      // (O(commits in the table's history) — bounded, and itself pruned by
      // vacuum each run); executors list the files inside each dir; the
      // doomed set is (on disk ∖ referenced) as a Dataset anti-join; and
      // the deletes run per-partition on executors. Driver memory is flat
      // in table file count — the only collected lists are per-partition
      // delete counts and the (bounded) set of dirs still holding a live
      // file. At 10⁷ files the old driver-side recursive listing held
      // every path in driver memory; this holds none.
      var deleted = 0L
      val dataDir = new Path(root, "data")
      if (fs.exists(dataDir)) {
        import spark.implicits._
        val qualRoot = fs.makeQualified(root)
        val rootStr = qualRoot.toString
        val rootPathLen = qualRoot.toUri.getPath.length
        val topDirs = fs.listStatus(dataDir).iterator
          .filter(_.isDirectory)
          .map(s => fs.makeQualified(s.getPath).toString).toSeq
        // Hadoop Configuration is not serializable: ship its entries and
        // rebuild per executor (FileSystem.get caches per scheme+authority,
        // so the rebuild cost is once per executor, not per file)
        val confEntries = {
          val cc = spark.sparkContext.hadoopConfiguration
          val b = Map.newBuilder[String, String]
          val it = cc.iterator()
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
          b.result()
        }
        def fsFor(p: String): FileSystem = {
          val cc = new org.apache.hadoop.conf.Configuration()
          confEntries.foreach { case (k, vv) => cc.set(k, vv) }
          new Path(p).getFileSystem(cc)
        }
        if (topDirs.nonEmpty) {
          // ONE job for the whole GC: list-on-executors → left-outer join
          // against the referenced set → per-partition delete of the
          // unmatched files, emitting (delete count, dirs seen holding a
          // referenced file). The previous shape materialized the listing
          // (localCheckpoint) and consumed it twice (anti-join delete +
          // semi-join live-dir probe) — three jobs whose scheduling
          // dominated vacuum at the small end (vacuum_vs_live_files
          // 8-dir case, round-10 records); the fused pass keeps driver
          // memory flat (collected: counts + live-dir names, bounded by
          // the commit-dir count) and does strictly less work at every
          // scale — the listing is computed once and never persisted.
          val onDisk = spark.createDataset(topDirs)
            .repartition(math.min(topDirs.size, 64))
            .mapPartitions { dirs =>
              dirs.flatMap { d =>
                val dfs = fsFor(d)
                val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
                val it = dfs.listFiles(new Path(d), true)
                while (it.hasNext) {
                  val f = it.next()
                  val name = f.getPath.getName
                  if (!name.startsWith("_") && !name.startsWith("."))
                    out += ((d, f.getPath.toUri.getPath.substring(rootPathLen + 1)))
                }
                out
              }
            }.toDF("dir", "path")
          // referenced paths are distinct, so the join preserves every
          // on-disk row exactly once; a null flag = unreferenced = doomed
          val flagged = onDisk.join(
            referencedDf.withColumn("__ref", lit(true)), Seq("path"), "left_outer")
          val perPart = flagged.select(col("path"), col("dir"), col("__ref"))
            .as[(String, String, Option[Boolean])]
            .mapPartitions { rows =>
              var n = 0L
              val live = scala.collection.mutable.HashSet.empty[String]
              rows.foreach { case (p, d, ref) =>
                if (ref.isEmpty) {
                  if (fsFor(rootStr).delete(new Path(rootStr + "/" + p), false)) n += 1
                } else live += d
              }
              Iterator.single((n, live.toSeq))
            }.collect()
          deleted = perPart.map(_._1).sum
          // dirs left with NO live file (all deleted, or only metadata
          // markers): bounded by the commit-dir count
          val liveDirs = perPart.iterator.flatMap(_._2).toSet
          topDirs.filterNot(liveDirs.contains)
            .foreach(d => fs.delete(new Path(d), true))
        }
      }
      (deleted, dropped.size.toLong)
    }
  }
}
