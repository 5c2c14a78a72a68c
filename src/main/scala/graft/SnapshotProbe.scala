package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotStore
import graft.operators.SnapshotStore.RangeHint

/** Bench tooling: scale-trend measurement for the SNAPSHOT substrate over
  * a [[ScaleData]]-derived corpus. The claim under test is the
  * copy-on-write cost model: a FIXED-SIZE row-level operation (ranged
  * delete/update, small merge, single-version change read) should cost
  * ~the same wall time whether the table holds 1× or 10× the rows —
  * because the manifest range pre-prune + per-file zone map confine the
  * rewrite to the files actually containing matches, and the file count
  * scales with the table while per-file rows stay constant. Whole-table
  * operations (create, vacuum) are expected ~linear; everything row-level
  * should be ~flat. Correctness queries never read derived data; this is
  * measurement only (ScaleData's charter).
  *
  * Usage: SnapshotProbe <sfDir>
  * Prints one JSON line {"sf":…,"rows":N,"files":F,"ops":{name:sec,…}} —
  * each mutating op timed on two DISJOINT fixed-size key ranges (same
  * work shape, fresh version each), min reported.
  */
object SnapshotProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir) = args
    val spark = Bench.session()

    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val rows = docs.count()
    // per-file rows constant across scales: files ∝ table size
    val nFiles = math.max(8L, rows / 625L).toInt

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      s
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft_snapprobe_").toFile
    val path = new java.io.File(tmp, "t").getAbsolutePath
    try {
      val ops = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      ops("create_clustered") = time {
        SnapshotStore.create(spark, docs, path,
          statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = nFiles)
      }
      def hint(lo: Long, hi: Long) = Some(RangeHint("doc_id", lo.toString, hi.toString))
      // fixed-size ranged delete, two disjoint 20-key ranges
      val dels = Seq((100L, 119L), (300L, 319L)).map { case (lo, hi) =>
        time {
          SnapshotStore.deleteWhere(spark, path,
            col("doc_id").between(lo, hi), hint(lo, hi)): Unit
        }
      }
      ops("ranged_delete_20keys") = dels.min
      // fixed-size ranged update, two disjoint 10-key ranges
      val upds = Seq((500L, 509L), (700L, 709L)).map { case (lo, hi) =>
        time {
          SnapshotStore.updateWhere(spark, path,
            col("doc_id").between(lo, hi), Map("lang" -> lit("xx")), hint(lo, hi)): Unit
        }
      }
      ops("ranged_update_10keys") = upds.min
      // small merge: 25 updates (hinted key range) + 25 inserts past max
      val merges = Seq((900L, 924L), (1100L, 1124L)).zipWithIndex.map {
        case ((lo, hi), i) =>
          val upd = docs.filter(col("doc_id").between(lo, hi))
            .withColumn("source", lit("merged"))
          val ins = docs.filter(col("doc_id").between(lo, hi))
            .withColumn("doc_id", col("doc_id") + lit((i + 1) * 10000000L))
          // hint covers only the keys that may already exist (the update
          // range); the minted insert keys cannot match and need no cover
          time {
            SnapshotStore.merge(spark, upd.unionByName(ins), path,
              keys = Seq("doc_id"), tieBreak = Nil,
              hint = hint(lo, hi)): Unit
          }
      }
      ops("merge_25upd_25ins") = merges.min
      // single-version incremental read (changed files only)
      val cur = SnapshotStore.currentVersion(spark, path)
      ops("changes_one_version") = math.min(
        time { SnapshotStore.changesBetween(spark, path, cur - 1, cur).count(): Unit },
        time { SnapshotStore.changesBetween(spark, path, cur - 1, cur).count(): Unit })
      // zone-map range scan: fixed 50-key window
      ops("zonemap_scan_50keys") = math.min(
        time {
          val es = SnapshotStore.entries(spark, path, cur)
          SnapshotStore.readFiles(spark, path, SnapshotStore.pruned(es, "doc_id", "2000", "2049"))
            .filter(col("doc_id").between(2000, 2049)).count(): Unit
        },
        time {
          val es = SnapshotStore.entries(spark, path, cur)
          SnapshotStore.readFiles(spark, path, SnapshotStore.pruned(es, "doc_id", "2100", "2149"))
            .filter(col("doc_id").between(2100, 2149)).count(): Unit
        })
      ops("vacuum_keep1") = time { SnapshotStore.vacuum(spark, path, 1): Unit }
      // PER-COMMIT COST vs TABLE FILE COUNT — the manifest-lifecycle
      // claim: a commit writes only its own delta segment, so the same
      // small append must cost ~the same against a 100×-file table
      // (the old full-manifest design paid an O(files) driver collect +
      // manifest rewrite per commit). Six appends each; the first warms
      // the path, the mean of the rest is reported; none crosses the
      // 16-delta checkpoint threshold, isolating the pure commit.
      val batch = docs.filter(col("doc_id") < 20)
      val trend = Seq(8, 800).map { f =>
        val p2 = new java.io.File(tmp, s"trend$f").getAbsolutePath
        SnapshotStore.create(spark, docs, p2, numFiles = f)
        val times = (1 to 6).map(_ =>
          time { SnapshotStore.append(spark, batch, p2): Unit })
        f -> times.tail.sum / 5.0
      }
      val trendJson = trend.map { case (f, s) => s""""$f":${f"$s%.3f"}""" }
        .mkString(",")
      // VACUUM COST vs LIVE FILE COUNT — the distributed-GC claim: with
      // FIXED garbage (one small CoW delete's dropped files), vacuum's
      // driver does O(commit dirs) work and collects only delete lists +
      // live-dir names; the file-level listing and the referenced-set
      // anti-join run as executor jobs. Near-flat wall across a 100×
      // live-file spread (and zero driver path collection by
      // construction) is the evidence the round-9 driver-side recursive
      // listing ceiling is gone.
      val vtrend = Seq(8, 800).map { f =>
        val p3 = new java.io.File(tmp, s"vtrend$f").getAbsolutePath
        SnapshotStore.create(spark, docs, p3,
          statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = f)
        SnapshotStore.deleteWhere(spark, p3,
          col("doc_id").between(0, 19), hint(0L, 19L))
        f -> time { SnapshotStore.vacuum(spark, p3, 1): Unit }
      }
      val vtrendJson = vtrend.map { case (f, s) => s""""$f":${f"$s%.3f"}""" }
        .mkString(",")
      val opsJson = ops.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
      println(s"""{"sf":"$dir","rows":$rows,"files":$nFiles,""" +
        s""""ops":{$opsJson},"append_commit_vs_files":{$trendJson},""" +
        s""""vacuum_vs_live_files":{$vtrendJson}}""")
    } finally graft.util.Fs.deleteTree(tmp)
    spark.stop()
  }
}
