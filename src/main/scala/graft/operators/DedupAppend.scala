package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent key-deduplicated append — the Spark-native restatement of the
  * reference's `INSERT … ON CONFLICT (flr_id) DO NOTHING`
  * (reference dags/etl.py:70-75).
  *
  * Where the reference ships every duplicate across the network and lets the
  * store discard it row-by-row, this moves dedup before the write:
  *   1. in-batch dedup, first-by-deterministic-order per key (row_number
  *      window — NOT dropDuplicates, whose survivor is partition-order
  *      dependent and would break re-run determinism);
  *   2. cross-batch conflict skip via left_anti join against existing keys
  *      (at scale the existing side is key-columns-only, so the scan prunes
  *      to the key column and the join shuffles minimal data; if the new
  *      batch is small Spark broadcasts it instead);
  *   3. set-oriented append of only the surviving rows.
  *
  * Plain-parquet caveat (SURVEY §7.3): append is not transactional —
  * single-writer, ENFORCED by [[Lease]] (a second concurrent maintainer
  * fails cleanly at acquire); a table format with MERGE INTO would
  * replace step 2+3 atomically.
  */
object DedupAppend {

  /** Append `batch` to the parquet table at `path`, keeping only the first
    * row per `keys` (ordered by `tieBreak`) not already present.
    * `partitionCols` (optional) writes/extends a directory-partitioned
    * layout — e.g. the IVF index's cell partitioning — so the maintained
    * table keeps its pruning structure across appends. */
  def append(spark: SparkSession, batch: DataFrame, path: String,
             keys: Seq[String], tieBreak: Seq[String],
             partitionCols: Seq[String] = Nil,
             owner: Option[String] = None): Unit = {
    // single-writer ENFORCED: two concurrent appends could both see key X
    // absent and both insert it — the second maintainer fails cleanly.
    // Streaming callers pass their checkpoint location as `owner` so a
    // crashed lineage's restart re-acquires its own stale lease (the
    // replayed append is already conflict-skipped by the anti-join).
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Lease.withLease(fs, live, "dedup append", owner) {
      appendUnleased(spark, batch, path, keys, tieBreak, partitionCols)
    }
  }

  /** The append body, lease management left to the caller —
    * [[Maintenance.appendCycle]] holds ONE lease across its whole
    * append+compact cycle and calls this directly. */
  private[operators] def appendUnleased(
      spark: SparkSession, batch: DataFrame, path: String,
      keys: Seq[String], tieBreak: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    val inBatch = survivors(batch, keys, tieBreak)

    val fresh =
      if (!exists(spark, path)) inBatch
      else {
        val existingKeys = spark.read.parquet(path).select(keys.map(col): _*)
        // a using-join puts the keys first: keep the batch's column order,
        // or the table's files disagree on it
        inBatch.join(existingKeys, keys, "left_anti")
          .select(inBatch.columns.toSeq.map(col): _*)
      }
    val writer = fresh.write.mode("append")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  /** In-batch dedup: the first row per `keys` group by a deterministic
    * TOTAL order — shared by the parquet append above and
    * [[SnapshotStore.appendDedup]]. The survivor order must be total per
    * key group or determinism is lost exactly the way dropDuplicates loses
    * it: the keys are the window's partition columns (constant inside a
    * frame — no tie-break value), so after the caller's `tieBreak` the
    * remaining ORDERABLE payload columns break any residual tie by content
    * (sorted by name for a stable order; rows still tied are full
    * duplicates, where any survivor is the same row). Unorderable types
    * (maps) are skipped — they cannot participate in a sort key. */
  private[graft] def survivors(batch: DataFrame, keys: Seq[String],
                               tieBreak: Seq[String]): DataFrame = {
    val payloadTie = batch.schema.fields
      .filter(f => !keys.contains(f.name) && !tieBreak.contains(f.name) &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(_.name).sorted.toSeq
    val ord = tieBreak ++ payloadTie
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((if (ord.nonEmpty) ord else keys).map(c => col(c).asc_nulls_last): _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** True when the table has at least one data file — searched recursively,
    * so directory-partitioned layouts (files under key=value subdirs) are
    * recognized too. */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) return true
    false
  }
}
