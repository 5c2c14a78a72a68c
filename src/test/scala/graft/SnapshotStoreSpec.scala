package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotStore
import graft.operators.SnapshotStore.RangeHint
import graft.util.Fs

/** Laws of the manifest-committed snapshot table: atomic versioning,
  * copy-on-write file granularity, zone-map soundness, vacuum safety,
  * relocatability, and commit-conflict refusal. */
class SnapshotStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.t(spark, sf, "documents")

  private def withTable[A](f: String => A): A = {
    val tmp = Files.createTempDirectory("graft-snap").toFile
    try f(new java.io.File(tmp, "t").getAbsolutePath)
    finally Fs.deleteTree(tmp)
  }

  test("create + append: versions accumulate, old files carried by reference") {
    withTable { path =>
      val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      assert(SnapshotStore.create(spark, a, path) == 1L)
      assert(SnapshotStore.append(spark, b, path) == 2L)
      assert(SnapshotStore.versions(spark, path) == Seq(1L, 2L))
      val v1Paths = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      val v2Paths = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      assert(v1Paths.subsetOf(v2Paths), "append must carry v1 files by reference")
      val got = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      assert(got == docs.orderBy("doc_id").collect().toSeq)
      // manifests record true row counts
      assert(SnapshotStore.entries(spark, path, 2).map(_.rows).sum == docs.count())
    }
  }

  test("appendDedup: re-delivered batch is a TRUE no-op (no version bump)") {
    withTable { path =>
      val a = docs.filter(col("doc_id") < 100)
      SnapshotStore.create(spark, a, path)
      val v2 = SnapshotStore.appendDedup(spark, docs.filter(col("doc_id") < 200), path,
        keys = Seq("doc_id"), tieBreak = Nil)
      assert(v2 == 2L)
      // full re-delivery: nothing fresh → same version, no commit, no garbage
      val v3 = SnapshotStore.appendDedup(spark, docs.filter(col("doc_id") < 200), path,
        keys = Seq("doc_id"), tieBreak = Nil)
      assert(v3 == 2L)
      assert(SnapshotStore.versions(spark, path) == Seq(1L, 2L))
      assert(SnapshotStore.read(spark, path).count() ==
        docs.filter(col("doc_id") < 200).count())
    }
  }

  test("deleteWhere: copy-on-write — only matching files rewritten; no-op without matches") {
    withTable { path =>
      // range-clustered: doc_id intervals are disjoint across the 8 files
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      val before = SnapshotStore.entries(spark, path, 1)
      assert(before.size == 8)
      val v2 = SnapshotStore.deleteWhere(spark, path,
        col("doc_id") >= 100 && col("doc_id") < 120,
        hint = Some(RangeHint("doc_id", "100", "119")))
      assert(v2 == 2L)
      val after = SnapshotStore.entries(spark, path, 2)
      val carried = after.map(_.path).toSet intersect before.map(_.path).toSet
      assert(carried.size >= 6, s"expected >=6 of 8 files carried, got ${carried.size}")
      val got = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      val want = docs.filter(!(col("doc_id") >= 100 && col("doc_id") < 120))
        .orderBy("doc_id").collect().toSeq
      assert(got == want)
      // second identical delete: nothing matches → no new version
      assert(SnapshotStore.deleteWhere(spark, path,
        col("doc_id") >= 100 && col("doc_id") < 120) == 2L)
    }
  }

  test("updateWhere: row count invariant, untouched files carried, values updated") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      val before = SnapshotStore.entries(spark, path, 1)
      val v2 = SnapshotStore.updateWhere(spark, path,
        col("doc_id") < 50, Map("lang" -> lit("xx")),
        hint = Some(RangeHint("doc_id", "0", "49")))
      assert(v2 == 2L)
      val after = SnapshotStore.entries(spark, path, 2)
      assert((after.map(_.path).toSet intersect before.map(_.path).toSet).nonEmpty)
      val cur = SnapshotStore.read(spark, path)
      assert(cur.count() == docs.count())
      assert(cur.filter(col("doc_id") < 50 && col("lang") =!= "xx").count() == 0)
      assert(cur.filter(col("doc_id") >= 50 && col("lang") === "xx").count() ==
        docs.filter(col("doc_id") >= 50 && col("lang") === "xx").count())
    }
  }

  test("zone map: pruning drops only provably-disjoint files; statless files kept") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id", "lang"), clusterBy = Seq("doc_id"), numFiles = 8)
      val es = SnapshotStore.entries(spark, path, 1)
      val kept = SnapshotStore.pruned(es, "doc_id", "200", "250")
      assert(kept.size < es.size, "range-clustered scan must prune files")
      // pruned read + exact filter ≡ full read + exact filter
      val viaPrune = SnapshotStore.readFiles(spark, path, kept)
        .filter(col("doc_id").between(200, 250)).orderBy("doc_id").collect().toSeq
      val full = SnapshotStore.read(spark, path)
        .filter(col("doc_id").between(200, 250)).orderBy("doc_id").collect().toSeq
      assert(viaPrune == full)
      // a column with no recorded interval never prunes
      val entryNoStats = es.map(e => e.copy(stats = e.stats - "doc_id"))
      assert(SnapshotStore.pruned(entryNoStats, "doc_id", "200", "250").size == es.size)
    }
  }

  test("time travel: every version stays readable and exact until vacuumed") {
    withTable { path =>
      val s0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val s1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      SnapshotStore.create(spark, s0, path)
      SnapshotStore.append(spark, s1, path)
      SnapshotStore.deleteWhere(spark, path, col("lang") === "de")
      assert(SnapshotStore.readVersion(spark, path, 1).orderBy("doc_id").collect().toSeq ==
        s0.orderBy("doc_id").collect().toSeq)
      assert(SnapshotStore.readVersion(spark, path, 2).count() == s0.count() + s1.count())
    }
  }

  test("vacuum: keeps the window readable, reclaims exactly the unreferenced files") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path, numFiles = 4)
      SnapshotStore.deleteWhere(spark, path, col("lang") === "de")
      SnapshotStore.compact(spark, path, Long.MaxValue)
      assert(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L))
      val (deleted, droppedVs) = SnapshotStore.vacuum(spark, path, keepVersions = 2)
      assert(droppedVs == 1L && deleted > 0L)
      assert(SnapshotStore.versions(spark, path) == Seq(2L, 3L))
      // beyond the window: refuses loudly
      intercept[IllegalArgumentException] {
        SnapshotStore.readVersion(spark, path, 1)
      }
      // inside the window: exact
      val want = docs.filter(col("lang") =!= "de").orderBy("doc_id").collect().toSeq
      assert(SnapshotStore.readVersion(spark, path, 2).orderBy("doc_id").collect().toSeq == want)
      assert(SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq == want)
      // disk holds exactly the referenced file set — no orphans, no leaks
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val onDisk = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
        val b = scala.collection.mutable.Set.empty[String]
        while (it.hasNext) {
          val n = it.next().getPath
          if (!n.getName.startsWith("_") && !n.getName.startsWith("."))
            b += n.toUri.getPath.stripPrefix(
              fs.makeQualified(root).toUri.getPath + "/")
        }
        b.toSet
      }
      val referenced = Seq(2L, 3L)
        .flatMap(v => SnapshotStore.entries(spark, path, v).map(_.path)).toSet
      assert(onDisk == referenced, s"disk $onDisk != referenced $referenced")
    }
  }

  test("commit conflict: a pre-existing marker refuses the lost update cleanly") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(10), path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate a racing committer mid-commit: its v2 manifest is renamed
      // into place but not yet marked — the later committer must refuse
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_snapshots/v2")))
      val e = intercept[java.io.IOException] {
        SnapshotStore.append(spark, docs.limit(5), path)
      }
      assert(e.getMessage.contains("conflict"))
      // table still reads at its last good version
      assert(SnapshotStore.read(spark, path).count() == 10)
    }
  }

  test("relocatability: a moved table root still reads (paths are relative)") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(20), path)
      SnapshotStore.append(spark, docs.filter(col("doc_id").between(100, 110)), path)
      val moved = path + "_moved"
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(root, new org.apache.hadoop.fs.Path(moved)))
      assert(SnapshotStore.read(spark, moved).count() == 31)
    }
  }

  test("delete-all: empty current version reads as empty frame with the table schema") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(10), path)
      SnapshotStore.deleteWhere(spark, path, lit(true))
      val cur = SnapshotStore.read(spark, path)
      assert(cur.count() == 0)
      assert(cur.schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
      // and time travel still shows the pre-delete state
      assert(SnapshotStore.readVersion(spark, path, 1).count() == 10)
    }
  }

  test("merge: updates replace, inserts land, one atomic commit; pure-insert merge touches nothing") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      val batch = docs.filter(col("doc_id") < 30).withColumn("lang", lit("xx"))
        .union(docs.filter(col("doc_id") < 10) // fresh keys, beyond max
          .withColumn("doc_id", col("doc_id") + 100000L))
      val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      assert(SnapshotStore.merge(spark, batch, path, Seq("doc_id"), Nil) == 2L)
      val after = SnapshotStore.entries(spark, path, 2).map(_.path).toSet
      assert((before intersect after).size >= 6, "merge must carry clean files")
      val cur = SnapshotStore.read(spark, path)
      assert(cur.count() == docs.count() + 10)
      assert(cur.filter(col("doc_id") < 30 && col("lang") =!= "xx").count() == 0)
      assert(cur.filter(col("doc_id") >= 100000L).count() == 10)
      // pure-insert merge: no matched keys → every current file carried
      val v3 = SnapshotStore.merge(spark,
        docs.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 200000L),
        path, Seq("doc_id"), Nil)
      assert(v3 == 3L)
      val afterIns = SnapshotStore.entries(spark, path, 3).map(_.path).toSet
      assert(after.subsetOf(afterIns), "pure-insert merge must rewrite nothing")
    }
  }

  test("merge: replaying the same batch changes content NOT AT ALL (idempotent result)") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path, numFiles = 4)
      val batch = docs.filter(col("doc_id") < 20).withColumn("source", lit("v2"))
      SnapshotStore.merge(spark, batch, path, Seq("doc_id"), Nil)
      val once = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      SnapshotStore.merge(spark, batch, path, Seq("doc_id"), Nil)
      val twice = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      assert(twice == once)
    }
  }

  test("streaming owner: a crashed lineage's stale lease self-heals; others refuse") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(10), path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate the crash: an owner-declared maintainer died holding the lease
      graft.operators.Lease.acquire(fs, root, "snapshot dedup append", Some("ckptX"))
      // an anonymous maintainer refuses loudly...
      intercept[graft.operators.Lease.HeldException] {
        SnapshotStore.append(spark, docs.filter(col("doc_id") === 400), path)
      }
      // ...but the owner's restarted lineage re-acquires its own lease
      val v = SnapshotStore.appendDedup(spark,
        docs.filter(col("doc_id").between(100, 104)), path,
        keys = Seq("doc_id"), tieBreak = Nil, owner = Some("ckptX"))
      assert(v == 2L)
      assert(SnapshotStore.read(spark, path).count() == 15)
      // lease released on completion: anonymous maintenance works again
      assert(SnapshotStore.deleteWhere(spark, path, col("doc_id") === 100) == 3L)
    }
  }

  test("write-audit-publish: publish refuses after a mid-audit commit; vacuum protects staging") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(50), path)
      val staged = SnapshotStore.stageAppend(spark,
        docs.filter(col("doc_id").between(100, 109)), path)
      assert(staged == 2L)
      // vacuum during the audit must NOT reclaim the staged files
      SnapshotStore.vacuum(spark, path, keepVersions = 1)
      assert(SnapshotStore.readStaged(spark, path, staged).count() == 60)
      // another commit lands mid-audit → the audited staging no longer
      // describes the table it would land on → publish refuses
      intercept[java.io.IOException] {
        SnapshotStore.append(spark, docs.filter(col("doc_id") === 200), path)
      } // stage conflict: v2 manifest exists
      SnapshotStore.abandon(spark, path, staged)
      SnapshotStore.append(spark, docs.filter(col("doc_id") === 200), path)
      intercept[java.io.IOException] {
        SnapshotStore.publish(spark, path, staged)
      }
      assert(SnapshotStore.read(spark, path).count() == 51)
    }
  }

  test("schema evolution: add-column is zero-rewrite; duplicates refused; merge sees it") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(50), path)
      val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      SnapshotStore.evolveAddColumn(spark, path, "score", "BIGINT")
      // no data version was created, no file touched
      assert(SnapshotStore.versions(spark, path) == Seq(1L))
      assert(SnapshotStore.entries(spark, path, 1).map(_.path).toSet == before)
      // old rows read NULL in the evolved column
      val cur = SnapshotStore.read(spark, path)
      assert(cur.schema.fieldNames.contains("score"))
      assert(cur.filter(col("score").isNotNull).count() == 0)
      // duplicate evolution refuses
      intercept[IllegalArgumentException] {
        SnapshotStore.evolveAddColumn(spark, path, "score", "BIGINT")
      }
      // merge with the evolved schema: updates + inserts carry values
      val batch = docs.filter(col("doc_id") < 5)
        .withColumn("score", col("doc_id") * 10L)
      SnapshotStore.merge(spark, batch, path, Seq("doc_id"), Nil)
      val after = SnapshotStore.read(spark, path)
      assert(after.filter(col("doc_id") < 5 && col("score").isNull).count() == 0)
      assert(after.filter(col("doc_id") >= 5 && col("score").isNotNull).count() == 0)
    }
  }

  test("SnapshotFileIndex: planner prunes on long/string/timestamp; OR declines soundly") {
    withTable { path =>
      val d = docs.withColumn("tagged",
        concat(lit("t"), lpad(col("doc_id").cast("string"), 6, "0")))
      SnapshotStore.create(spark, d, path,
        statsColumns = Seq("doc_id", "tagged"), clusterBy = Seq("doc_id"), numFiles = 8)
      def scanned(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        // execute THIS Dataset's own plan (df.count() would build a new
        // QueryExecution, leaving this scan's metrics unpopulated)
        val n = df.collect().length.toLong
        val scan = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
        (scan.metrics("numFiles").value, n)
      }
      val rel = SnapshotStore.readRelation(spark, path)
      // long range: prunes, result exact
      val (f1, n1) = scanned(rel.filter(col("doc_id").between(100, 149)))
      assert(f1 < 8 && n1 == 50, s"long prune: files $f1 rows $n1")
      // string range on the derived tag (lexicographic == id order here)
      val (f2, n2) = scanned(rel.filter(col("tagged") >= "t000100" && col("tagged") <= "t000149"))
      assert(f2 < 8 && n2 == 50, s"string prune: files $f2 rows $n2")
      // equality prunes to one file's worth
      val (f3, n3) = scanned(rel.filter(col("doc_id") === 250))
      assert(f3 == 1 && n3 == 1, s"equality prune: files $f3 rows $n3")
      // OR is unsupported: declines to prune, result still exact
      val (f4, n4) = scanned(rel.filter(col("doc_id") === 10 || col("doc_id") === 400))
      assert(f4 == 8 && n4 == 2, s"OR soundness: files $f4 rows $n4")
      // pruned read ≡ explicit read on a mixed conjunction
      val got = rel.filter(col("doc_id") < 60 && col("lang") === "en")
        .orderBy("doc_id").collect().toSeq
      val want = SnapshotStore.read(spark, path)
        .filter(col("doc_id") < 60 && col("lang") === "en")
        .orderBy("doc_id").collect().toSeq
      assert(got == want)
    }
  }

  test("SnapshotFileIndex: timestamp stats prune a time-window scan") {
    withTable { path =>
      val o = Tables.t(spark, sf, "orders")
      SnapshotStore.create(spark, o, path,
        statsColumns = Seq("o_orderdate"), clusterBy = Seq("o_orderdate"), numFiles = 8)
      val rel = SnapshotStore.readRelation(spark, path)
      val win = rel.filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp") &&
                           col("o_orderdate") < lit("1996-09-01").cast("timestamp"))
      val n = win.collect().length.toLong
      val scan = win.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val files = scan.metrics("numFiles").value
      assert(files < 8, s"timestamp prune: scanned $files of 8")
      assert(n == o.filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-09-01").cast("timestamp")).count())
    }
  }

  test("manifest fold law: checkpointing changes NO version's entries; reads stay exact") {
    withTable { path =>
      // a lifecycle touching every delta shape: adds only (create/append/
      // dedup-append), removes+adds (delete/update/merge), full turnover
      // (compact)
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 200), path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.append(spark,
        docs.filter(col("doc_id").between(200, 299)), path)
      SnapshotStore.deleteWhere(spark, path, col("doc_id").between(50, 59))
      SnapshotStore.updateWhere(spark, path,
        col("doc_id") < 10, Map("lang" -> lit("xx")))
      SnapshotStore.merge(spark,
        docs.filter(col("doc_id").between(100, 109)).withColumn("source", lit("m")),
        path, Seq("doc_id"), Nil)
      SnapshotStore.compact(spark, path, Long.MaxValue)
      val vs = SnapshotStore.versions(spark, path)
      val before = vs.map(v => v -> SnapshotStore.entries(spark, path, v)).toMap
      val reads = vs.map(v =>
        v -> SnapshotStore.readVersion(spark, path, v).orderBy("doc_id")
          .collect().toSeq).toMap
      // LAW: materializing the fold as a checkpoint is invisible — every
      // version's entries and rows are identical before and after
      SnapshotStore.checkpointManifest(spark, path)
      vs.foreach { v =>
        assert(SnapshotStore.entries(spark, path, v) == before(v),
          s"checkpoint changed v$v's entries")
        assert(SnapshotStore.readVersion(spark, path, v).orderBy("doc_id")
          .collect().toSeq == reads(v), s"checkpoint changed v$v's rows")
      }
      // and vacuum (which now checkpoints at the oldest kept version)
      // preserves the kept window exactly
      SnapshotStore.vacuum(spark, path, keepVersions = 3)
      val kept = SnapshotStore.versions(spark, path)
      assert(kept == vs.takeRight(3))
      kept.foreach { v =>
        assert(SnapshotStore.entries(spark, path, v) == before(v),
          s"vacuum changed kept v$v's entries")
      }
    }
  }

  test("manifest checkpoint: auto-rolls after enough deltas; commits stay delta-sized") {
    withTable { path =>
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 10), path)
      // 17 appends: crosses the CheckpointEvery=16 segment threshold
      (1 to 17).foreach { i =>
        SnapshotStore.append(spark,
          docs.filter(col("doc_id") === (100 + i).toLong), path)
      }
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_snapshots"))
        .map(_.getPath.getName).filter(_.startsWith("ckpt-"))
      assert(ckpts.nonEmpty, "a checkpoint must auto-roll after 16 deltas")
      // every delta segment is O(its own commit): one add row per append
      val seg = new org.apache.hadoop.fs.Path(root, "_snapshots/v10")
      val segRows = spark.read.parquet(seg.toString).count()
      assert(segRows == 1L, s"append delta must carry ONLY its new file, got $segRows rows")
      // reads exact across the checkpoint boundary
      assert(SnapshotStore.read(spark, path).count() == 27)
      assert(SnapshotStore.readVersion(spark, path, 5).count() == 14)
    }
  }

  test("commutative commit rebase: two interleaved appenders BOTH land, once each") {
    withTable { path =>
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 10), path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fault injection at the commit fence: while appender A is between
      // resolving its version slot and creating its marker, appender B
      // (a split-brain writer — the lease failed to exclude it) commits
      // the same slot. A must rebase onto the new head, not refuse, not
      // duplicate, not drop B.
      var fired = false
      SnapshotStore.commitFence = () => {
        if (!fired) {
          fired = true
          graft.operators.Lease.break_(fs, root) // split-brain simulation
          SnapshotStore.append(spark,
            docs.filter(col("doc_id").between(100, 104)), path)
        }
      }
      try {
        val v = SnapshotStore.append(spark,
          docs.filter(col("doc_id").between(200, 209)), path)
        assert(v == 3L, s"A must land at the rebased slot v3, got v$v")
      } finally SnapshotStore.commitFence = () => ()
      assert(SnapshotStore.versions(spark, path) == Seq(1L, 2L, 3L))
      val got = SnapshotStore.read(spark, path).orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val want = docs.filter(col("doc_id") < 10 ||
        col("doc_id").between(100, 104) || col("doc_id").between(200, 209))
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, "both appenders' rows exactly once")
      val hist = SnapshotStore.history(spark, path).orderBy("version")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(hist == Seq((1L, "create"), (2L, "append"), (3L, "append")))
    }
  }

  test("dedup-append rebase re-checks keys against the interleaved winner (no duplicates)") {
    withTable { path =>
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 10), path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var fired = false
      SnapshotStore.commitFence = () => {
        if (!fired) {
          fired = true
          graft.operators.Lease.break_(fs, root)
          // the winner lands keys 100-109 — OVERLAPPING A's batch
          SnapshotStore.appendDedup(spark,
            docs.filter(col("doc_id").between(100, 109)), path,
            keys = Seq("doc_id"), tieBreak = Nil)
        }
      }
      try {
        // A's batch: keys 100-119; after the rebase only 110-119 are fresh
        SnapshotStore.appendDedup(spark,
          docs.filter(col("doc_id").between(100, 119)), path,
          keys = Seq("doc_id"), tieBreak = Nil): Unit
      } finally SnapshotStore.commitFence = () => ()
      val cur = SnapshotStore.read(spark, path)
      assert(cur.count() == 30, "10 seed + 20 distinct keys, no duplicates")
      assert(cur.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    }
  }

  test("staged slot never rebases: an append into a WAP reservation still refuses") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(10), path)
      SnapshotStore.stageAppend(spark,
        docs.filter(col("doc_id").between(100, 104)), path): Unit
      val e = intercept[java.io.IOException] {
        SnapshotStore.append(spark,
          docs.filter(col("doc_id").between(200, 204)), path)
      }
      assert(e.getMessage.contains("staged"),
        s"append must refuse the staged reservation, got: ${e.getMessage}")
      assert(SnapshotStore.versions(spark, path) == Seq(1L))
    }
  }

  test("timestamp time travel: versionAsOfTimestamp resolves by commit instant") {
    withTable { path =>
      SnapshotStore.create(spark, docs.limit(10), path)
      Thread.sleep(20)
      val between = System.currentTimeMillis()
      Thread.sleep(20)
      SnapshotStore.append(spark, docs.filter(col("doc_id").between(100, 104)), path)
      assert(SnapshotStore.versionAsOfTimestamp(spark, path, between) == 1L)
      assert(SnapshotStore.versionAsOfTimestamp(spark, path,
        System.currentTimeMillis()) == 2L)
      intercept[IllegalArgumentException] {
        SnapshotStore.versionAsOfTimestamp(spark, path, 1000L) // before creation
      }
    }
  }

  test("timestamp stats: writer and pruner agree across session time zones") {
    // both timestamp flavors: TIMESTAMP (an instant — stats are epoch
    // micros, zone-free by construction) and TIMESTAMP_NTZ (a wall clock —
    // stats are ISO strings, zone-free because NTZ has no zone to apply)
    withTable { pathLtz =>
      withTable { pathNtz =>
        val prevTz = spark.conf.get("spark.sql.session.timeZone")
        try {
          // writer session far from UTC (+05:45)
          spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
          val o = Tables.t(spark, sf, "orders") // o_orderdate is NTZ
          SnapshotStore.create(spark,
            o.withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
            pathLtz, statsColumns = Seq("o_orderdate"),
            clusterBy = Seq("o_orderdate"), numFiles = 8)
          SnapshotStore.create(spark, o, pathNtz,
            statsColumns = Seq("o_orderdate"),
            clusterBy = Seq("o_orderdate"), numFiles = 8)
          // pruner session in a THIRD zone: a session-rendered encoding
          // would disagree by hours and silently drop matching files
          spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
          def check(path: String, castTo: String): Unit = {
            val pred =
              col("o_orderdate") >= lit("1996-06-01 00:00:00").cast(castTo) &&
                col("o_orderdate") < lit("1996-09-01 00:00:00").cast(castTo)
            val win = SnapshotStore.readRelation(spark, path).filter(pred)
            val n = win.collect().length.toLong
            val scan = win.queryExecution.executedPlan.collect {
              case f: org.apache.spark.sql.execution.FileSourceScanExec => f
            }.head
            assert(scan.metrics("numFiles").value < 8, s"$castTo: must still prune")
            assert(n > 0, s"$castTo: window must be non-empty")
            // soundness: exact same rows as the unpruned read, same zone
            assert(n == SnapshotStore.read(spark, path).filter(pred).count(),
              s"$castTo: pruned read lost rows across time zones")
          }
          check(pathLtz, "timestamp")
          check(pathNtz, "timestamp_ntz")
        } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
      }
    }
  }

  test("non-finite double stats: NaN/Infinity files carry no interval, never prune wrongly") {
    withTable { path =>
      import spark.implicits._
      val d = Seq((1L, 1.5), (2L, Double.NaN), (3L, 2.5), (4L, 9.0),
        (5L, Double.PositiveInfinity))
        .toDF("id", "score")
      // two files: ids 1-2 (contains NaN), ids 3-5 (contains Infinity)
      SnapshotStore.create(spark, d.repartitionByRange(2, col("id")),
        path, statsColumns = Seq("id", "score"))
      val es = SnapshotStore.entries(spark, path, 1)
      // neither file may carry a score interval (non-finite min/max)
      assert(es.forall(e => !e.stats.contains("score")),
        s"non-finite aggregates must yield no interval, got ${es.map(_.stats)}")
      // pruning on score keeps everything (no interval = never pruned)
      assert(SnapshotStore.pruned(es, "score", "100", "200").size == es.size)
      // and the planner-side read stays exact
      val got = SnapshotStore.readRelation(spark, path)
        .filter(col("score") > 8.0 && !isnan(col("score")))
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(4L, 5L))
    }
  }

  test("MoR delete: multiset + null semantics identical to CoW; re-delete is a no-op") {
    withTable { path =>
      import spark.implicits._
      val cow = path + "_cow"
      // duplicates (id=1 twice in one file) and a NULL-pred row (id=2)
      val d = Seq((1L, Some("a")), (1L, Some("a")), (2L, None),
        (3L, Some("a")), (4L, Some("b"))).toDF("id", "v").coalesce(1)
      SnapshotStore.create(spark, d, path)
      SnapshotStore.create(spark, d, cow)
      SnapshotStore.deleteWhereMoR(spark, path, col("v") === "a")
      SnapshotStore.deleteWhere(spark, cow, col("v") === "a")
      val got = SnapshotStore.read(spark, path).orderBy("id").collect().toSeq
      val want = SnapshotStore.read(spark, cow).orderBy("id").collect().toSeq
      assert(got == want, s"MoR $got != CoW $want")
      assert(got.map(_.getLong(0)) == Seq(2L, 4L),
        "all duplicate copies deleted; NULL-pred row kept (SQL-style)")
      // re-delete: matched rows resolve against existing tombstones → no-op
      val v = SnapshotStore.currentVersion(spark, path)
      assert(SnapshotStore.deleteWhereMoR(spark, path, col("v") === "a") == v,
        "re-deleting the same predicate must be a version-level no-op")
    }
  }

  test("MoR tombstones: CoW update/merge on a tombstoned table never resurrects") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.deleteWhereMoR(spark, path,
        col("doc_id").between(0, 49)) // tombstones in the first file
      val liveBefore = SnapshotStore.read(spark, path).count()
      // CoW update touches the SAME file range: its rewrite must resolve
      // the tombstones, not copy the raw (dead-inclusive) rows forward
      SnapshotStore.updateWhere(spark, path,
        col("doc_id").between(50, 99), Map("lang" -> lit("xx")),
        hint = Some(RangeHint("doc_id", "50", "99")))
      val cur = SnapshotStore.read(spark, path)
      assert(cur.count() == liveBefore, "update must not resurrect dead rows")
      assert(cur.filter(col("doc_id") < 50).count() == 0)
      // merge into the tombstoned range: inserts land, dead rows stay dead
      SnapshotStore.merge(spark,
        docs.filter(col("doc_id").between(0, 9)).withColumn("source", lit("m2")),
        path, Seq("doc_id"), Nil)
      val after = SnapshotStore.read(spark, path)
      assert(after.filter(col("doc_id") < 10).count() == 10, "merge inserts land")
      assert(after.filter(col("doc_id").between(10, 49)).count() == 0,
        "merge must not resurrect the rest of the tombstoned range")
    }
  }

  test("MoR tombstones: changesBetween sees the delete; time travel sees pre-delete rows") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.deleteWhereMoR(spark, path, col("lang") === "de")
      val deleted = docs.filter(col("lang") === "de").count()
      assert(deleted > 0, "precondition: some de rows")
      val delta = SnapshotStore.changesBetween(spark, path, 1L, 2L)
      assert(delta.filter(col("change_type") === "insert").count() == 0)
      assert(delta.filter(col("change_type") === "delete").count() == deleted,
        "the change feed must carry the tombstoned rows as deletes")
      // time travel: version 1 still reads the pre-delete table
      assert(SnapshotStore.readVersion(spark, path, 1).count() == docs.count())
      // and the delta fed forward reproduces the current state (IVM-style)
      assert(SnapshotStore.readVersion(spark, path, 2).count() ==
        docs.count() - deleted)
    }
  }

  test("updateWhereMoR: row-identical to CoW update; carries all files; no-op on no match") {
    withTable { path =>
      val cow = path + "_cow"
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.create(spark, docs, cow,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      val pred = pmod(col("doc_id"), lit(7)) === 0 // scattered across files
      val set = Map("source" -> lit("touched"))
      SnapshotStore.updateWhereMoR(spark, path, pred, set)
      SnapshotStore.updateWhere(spark, cow, pred, set)
      // every prior data file carried by reference
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      assert(v1.subsetOf(SnapshotStore.entries(spark, path, 2).map(_.path).toSet))
      assert(SnapshotStore.tombstoneEntries(spark, path, 2).nonEmpty)
      val got = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      val want = SnapshotStore.read(spark, cow).orderBy("doc_id").collect().toSeq
      assert(got == want, "MoR update must read row-identically to CoW")
      // row count invariant; version 1 time-travels to the pre-update state
      assert(got.size == docs.count())
      assert(SnapshotStore.readVersion(spark, path, 1)
        .filter(col("source") === "touched").count() == 0)
      // nothing matches → true no-op, no version bump
      val v = SnapshotStore.currentVersion(spark, path)
      assert(SnapshotStore.updateWhereMoR(spark, path,
        col("doc_id") === -1L, set) == v)
      // a second MoR update over the SAME rows resolves prior tombstones:
      // the first update's new images update again, no resurrection
      SnapshotStore.updateWhereMoR(spark, path, pred, Map("source" -> lit("twice")))
      val again = SnapshotStore.read(spark, path)
      assert(again.filter(col("source") === "twice").count() ==
        docs.filter(pred).count())
      assert(again.count() == docs.count())
    }
  }

  test("mergeMoR: row-identical to CoW merge; in-batch dups collapse; compaction folds") {
    withTable { path =>
      val cow = path + "_cow"
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.create(spark, docs, cow,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      val upd = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .withColumn("source", lit("merged"))
      val ins = docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + lit(900000L))
      val batch = upd.unionByName(ins).unionByName(upd) // dup'd updates
      SnapshotStore.mergeMoR(spark, batch, path, Seq("doc_id"), Nil)
      SnapshotStore.merge(spark, batch, cow, Seq("doc_id"), Nil)
      val v1 = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      assert(v1.subsetOf(SnapshotStore.entries(spark, path, 2).map(_.path).toSet),
        "MoR merge must not rewrite any data file")
      val got = SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq
      val want = SnapshotStore.read(spark, cow).orderBy("doc_id").collect().toSeq
      assert(got == want, "MoR merge must read row-identically to CoW")
      // compaction folds every tombstone; re-merge after compact still right
      SnapshotStore.compact(spark, path, Long.MaxValue)
      assert(SnapshotStore.tombstoneEntries(spark, path,
        SnapshotStore.currentVersion(spark, path)).isEmpty)
      assert(SnapshotStore.read(spark, path).orderBy("doc_id")
        .collect().toSeq == want)
    }
  }

  test("verifyHint law: a truthful hint prunes identically; a lying hint refuses") {
    withTable { path =>
      val cow = path + "_plain"
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      SnapshotStore.create(spark, docs, cow,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 8)
      // batch: updates to keys < 30 plus inserts minted past the max —
      // the documented hint contract: only keys that MAY match need cover
      val upd = docs.filter(col("doc_id") < 30).withColumn("source", lit("m"))
      val ins = docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + lit(800000L))
      val batch = upd.unionByName(ins)
      val truthful = Some(RangeHint("doc_id", "0", "29"))
      val before = SnapshotStore.entries(spark, path, 1).map(_.path).toSet
      SnapshotStore.merge(spark, batch, path, Seq("doc_id"), Nil,
        hint = truthful, verifyHint = true)
      SnapshotStore.merge(spark, batch, cow, Seq("doc_id"), Nil, hint = truthful)
      // verified merge pruned identically to the unverified one...
      val carriedV = (before intersect
        SnapshotStore.entries(spark, path, 2).map(_.path).toSet).size
      val carriedP = (SnapshotStore.entries(spark, cow, 1).map(_.path).toSet intersect
        SnapshotStore.entries(spark, cow, 2).map(_.path).toSet).size
      assert(carriedV == carriedP && carriedV >= 7,
        s"truthful verified hint must prune identically ($carriedV vs $carriedP)")
      // ...and row-identically
      assert(SnapshotStore.read(spark, path).orderBy("doc_id").collect().toSeq ==
        SnapshotStore.read(spark, cow).orderBy("doc_id").collect().toSeq)
      // the LIE: a matched key (doc_id 100) outside the hinted range —
      // unverified it would silently duplicate; verified it refuses
      val lying = docs.filter(col("doc_id").between(95, 105))
        .withColumn("source", lit("liar"))
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.merge(spark, lying, path, Seq("doc_id"), Nil,
          hint = Some(RangeHint("doc_id", "0", "29")), verifyHint = true)
      }
      assert(e.getMessage.contains("LIE"), e.getMessage)
      // same law through the MoR form
      val e2 = intercept[IllegalArgumentException] {
        SnapshotStore.mergeMoR(spark, lying, path, Seq("doc_id"), Nil,
          hint = Some(RangeHint("doc_id", "0", "29")), verifyHint = true)
      }
      assert(e2.getMessage.contains("LIE"), e2.getMessage)
    }
  }

  test("stream txn marks: same-lineage replay no-ops; marks survive checkpoint roll + vacuum") {
    withTable { path =>
      val a = docs.filter(col("doc_id") < 50)
      SnapshotStore.create(spark, a, path, txn = Some(("L1", 0L)))
      assert(SnapshotStore.lastTxn(spark, path, "L1").contains(0L))
      assert(SnapshotStore.lastTxn(spark, path, "L2").isEmpty)
      val b = docs.filter(col("doc_id").between(50, 99))
      assert(SnapshotStore.append(spark, b, path, txn = Some(("L1", 1L))) == 2L)
      // same-lineage replay of batch 1: version-level no-op, rows unchanged
      assert(SnapshotStore.append(spark, b, path, txn = Some(("L1", 1L))) == 2L)
      assert(SnapshotStore.versions(spark, path) == Seq(1L, 2L))
      assert(SnapshotStore.read(spark, path).count() == 100)
      // lineages are independent
      assert(SnapshotStore.append(spark, docs.filter(col("doc_id") === 100),
        path, txn = Some(("L2", 0L))) == 3L)
      // the dedup form short-circuits on the mark BEFORE the anti-join
      assert(SnapshotStore.appendDedup(spark, b, path, Seq("doc_id"), Nil,
        txn = Some(("L1", 1L))) == 3L)
      // marks survive the 16-delta auto checkpoint roll (latest per
      // lineage only — bounded persistent state)
      (2 to 18).foreach(i => SnapshotStore.append(spark,
        docs.filter(col("doc_id") === (100L + i)), path,
        txn = Some(("L1", i.toLong))): Unit)
      assert(SnapshotStore.lastTxn(spark, path, "L1").contains(18L))
      assert(SnapshotStore.lastTxn(spark, path, "L2").contains(0L))
      // vacuum drops the mark-carrying deltas; the checkpoint fold keeps
      // the marks (L2's only mark lived in a dropped segment)
      SnapshotStore.vacuum(spark, path, keepVersions = 2)
      assert(SnapshotStore.lastTxn(spark, path, "L1").contains(18L))
      assert(SnapshotStore.lastTxn(spark, path, "L2").contains(0L))
      // txn rows never surface as data: reads and entries are clean
      assert(SnapshotStore.entries(spark, path,
        SnapshotStore.currentVersion(spark, path)).forall(_.path.startsWith("data/")))
    }
  }

  test("relPathExpr: root-relative spelling matches on authority-bearing URIs") {
    import spark.implicits._
    // every spelling Spark/Hadoop can render for the SAME file must map to
    // the identical root-relative string the driver-side relOf produces —
    // the tombstone anti-join equality depends on it
    val cases = Seq(
      ("file:///tmp/t/data/c1/f.parquet", "/tmp/t"),
      ("file:/tmp/t/data/c1/f.parquet", "/tmp/t"),
      ("hdfs://nn:8020/warehouse/t/data/c1/f.parquet", "/warehouse/t"),
      ("s3a://bucket/w/t/data/c1/f.parquet", "/w/t"),
      ("abfs://cont@acct.dfs.example/w/t/data/c1/f.parquet", "/w/t"))
    cases.foreach { case (abs, rootPath) =>
      val got = Seq(abs).toDF("p")
        .select(SnapshotStore.relPathExpr(col("p"), rootPath))
        .head.getString(0)
      assert(got == "data/c1/f.parquet", s"$abs under $rootPath -> $got")
    }
  }

  test("format marker: legacy (marker-less) layout and future versions refuse loudly") {
    withTable { path =>
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 20), path)
      val fmt = new java.io.File(path, "_snapshots/format")
      assert(fmt.exists, "create must record the layout version")
      // legacy layout: _snapshots exists, no format file → refuse, never
      // read as an empty table (drop the checksum sidecar too — the raw
      // rewrites below go around Hadoop's ChecksumFileSystem)
      val crc = new java.io.File(path, "_snapshots/.format.crc")
      assert(fmt.delete()); crc.delete()
      val legacy = intercept[java.io.IOException] {
        SnapshotStore.read(spark, path).count()
      }
      assert(legacy.getMessage.contains("legacy"), legacy.getMessage)
      // future layout: version above this reader's → refuse
      java.nio.file.Files.write(fmt.toPath, "99".getBytes)
      val future = intercept[java.io.IOException] {
        SnapshotStore.read(spark, path).count()
      }
      assert(future.getMessage.contains("format 99"), future.getMessage)
      java.nio.file.Files.write(fmt.toPath, "2".getBytes)
      assert(SnapshotStore.read(spark, path).count() == 20)
    }
  }

  test("overwrite/merge: a same-named column of a different TYPE refuses") {
    withTable { path =>
      import spark.implicits._
      val d = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      SnapshotStore.create(spark, d, path)
      val badType = Seq((3L, 9)).toDF("id", "v") // v: int, table says string
      val e1 = intercept[IllegalArgumentException] {
        SnapshotStore.overwrite(spark, badType, path)
      }
      assert(e1.getMessage.contains("types"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        SnapshotStore.merge(spark, badType, path, Seq("id"), Nil)
      }
      assert(e2.getMessage.contains("types"), e2.getMessage)
      // matching schema in a different column ORDER still commits
      SnapshotStore.overwrite(spark, Seq(("c", 5L)).toDF("v", "id"), path)
      assert(SnapshotStore.read(spark, path).collect().toSeq.map(_.getLong(0)) == Seq(5L))
    }
  }

  test("null predicate semantics: delete keeps rows where pred is NULL (SQL-style)") {
    withTable { path =>
      import spark.implicits._
      val d = Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
        .toDF("id", "v")
      SnapshotStore.create(spark, d, path)
      SnapshotStore.deleteWhere(spark, path, col("v") === "a") // NULL for id=2
      val got = SnapshotStore.read(spark, path).orderBy("id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L, 3L))
    }
  }

  // ---- round-10 optimization laws -----------------------------------------

  test("changesBetween: pure append takes the no-shuffle fast path, inserts only") {
    withTable { path =>
      val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      SnapshotStore.create(spark, a, path)
      SnapshotStore.append(spark, b, path)
      val delta = SnapshotStore.changesBetween(spark, path, 1L, 2L)
      // semantics: exactly the appended rows, as inserts
      assert(delta.filter(col("change_type") === "delete").count() == 0)
      val got = delta.drop("change_type").orderBy("doc_id").collect().toSeq
      assert(got == b.orderBy("doc_id").collect().toSeq)
      // plan shape: the append fast path reads the new files directly —
      // no Exchange anywhere (the exceptAll form paid four)
      assert(!delta.queryExecution.executedPlan.toString.contains("Exchange"),
        "append-only changesBetween must not shuffle")
    }
  }

  test("changesBetween: net multiset diff replicates duplicate-count changes exactly") {
    withTable { path =>
      import spark.implicits._
      // v1: x appears 1×, y 3×, z 2×; v2 (overwrite): x 3×, y 1×, z 2×
      val v1 = Seq("x", "y", "y", "y", "z", "z").toDF("v")
      val v2 = Seq("x", "x", "x", "y", "z", "z").toDF("v")
      SnapshotStore.create(spark, v1, path)
      SnapshotStore.overwrite(spark, v2, path)
      val delta = SnapshotStore.changesBetween(spark, path, 1L, 2L)
        .select(col("v"), col("change_type")).as[(String, String)]
        .collect().toSeq.sorted
      // exceptAll semantics: v2∖v1 = {x, x} inserts; v1∖v2 = {y, y} deletes;
      // z's unchanged multiplicity must vanish from the delta
      assert(delta == Seq(("x", "insert"), ("x", "insert"),
        ("y", "delete"), ("y", "delete")))
    }
  }

  test("changesBetween: colliding schema refuses uniformly across commit shapes") {
    import spark.implicits._
    // change_type (and each __chg_* scratch name) must refuse in EVERY
    // branch — the fast paths would otherwise silently replace the user's
    // column where the general branch threw
    for (bad <- Seq("change_type", "__chg_sign", "__chg_net", "__chg_rep")) {
      withTable { path =>
        SnapshotStore.create(spark, Seq(("a", 1L)).toDF("v", bad), path)
        SnapshotStore.append(spark, Seq(("b", 2L)).toDF("v", bad), path) // pure append
        val e = intercept[IllegalArgumentException](
          SnapshotStore.changesBetween(spark, path, 1L, 2L))
        assert(e.getMessage.contains("reserved"), s"fast path must refuse on $bad")
      }
      withTable { path =>
        SnapshotStore.create(spark, Seq(("a", 1L)).toDF("v", bad), path)
        SnapshotStore.overwrite(spark, Seq(("b", 2L)).toDF("v", bad), path) // general
        val e = intercept[IllegalArgumentException](
          SnapshotStore.changesBetween(spark, path, 1L, 2L))
        assert(e.getMessage.contains("reserved"), s"general branch must refuse on $bad")
      }
    }
  }

  test("format read over live MoR tombstones: pushed filters never change results") {
    withTable { path =>
      SnapshotStore.create(spark, docs, path,
        statsColumns = Seq("doc_id"), clusterBy = Seq("doc_id"), numFiles = 4)
      SnapshotStore.deleteWhereMoR(spark, path, col("lang") === "de")
      assert(SnapshotStore.tombstoneEntries(spark, path, 2).nonEmpty,
        "precondition: live tombstones (the PrunedFilteredScan path)")
      val expect = SnapshotStore.read(spark, path)
      val via = spark.read.format("graft-snapshot").load(path)
      // shapes covering every translator case incl. polarity-sensitive NOT
      val preds = Seq(
        col("doc_id").between(100, 300) && col("lang") =!= "en",
        !(col("lang") === "fr" || col("doc_id") < 50),
        col("lang").isin("zh", "hi") || col("doc_id") >= 9000,
        col("lang").isNotNull && col("lang").startsWith("e"),
        col("source").isNull)
      for (p <- preds) {
        val want = expect.filter(p).orderBy("doc_id").collect().toSeq
        val got = via.filter(p).orderBy("doc_id").collect().toSeq
        assert(got == want, s"filtered MoR format read diverged on $p")
      }
    }
  }

  test("filterToColumn: NOT of a half-translatable AND refuses (polarity law)") {
    import org.apache.spark.sql.sources._
    import graft.sources.v2.SnapshotResolvedRelation.filterToColumn
    val exotic = AlwaysTrue() // no translation case — stands for any opaque filter
    // positive polarity: AND may weaken to its translatable side
    assert(filterToColumn(And(EqualTo("a", 1), exotic)).isDefined)
    // negative polarity: Not(And(exact, opaque)) must NOT push Not(exact)
    assert(filterToColumn(Not(And(EqualTo("a", 1), exotic))).isEmpty)
    // Not of a fully-exact child still pushes
    assert(filterToColumn(Not(And(EqualTo("a", 1), IsNotNull("b")))).isDefined)
    // OR requires both sides in any polarity
    assert(filterToColumn(Or(EqualTo("a", 1), exotic)).isEmpty)
  }

  test("filterToColumn: total over values — unliteralizable value degrades to not-pushed") {
    import org.apache.spark.sql.sources._
    import graft.sources.v2.SnapshotResolvedRelation.filterToColumn
    // V1 translation can hand values lit() cannot literalize (exotic
    // boxes out of constant folding); the translation must degrade to
    // None (outer re-filter keeps results exact), never throw at
    // buildScan time
    val exoticV: Any = new Object
    assert(filterToColumn(EqualTo("a", exoticV)).isEmpty)
    assert(filterToColumn(In("a", Array(exoticV))).isEmpty)
    // and the degradation composes: AND weakens to its translatable side
    assert(filterToColumn(And(EqualTo("a", 1), EqualTo("b", exoticV))).isDefined)
    assert(filterToColumn(Not(EqualTo("a", exoticV))).isEmpty)
    // plain values still translate
    assert(filterToColumn(In("a", Array(1, 2))).isDefined)
  }
  test("zone map: str intervals compare in code-point (UTF-8 byte) order") {
    import spark.implicits._
    withTable { path =>
      // one file whose stats column spans U+E000 .. U+1F600; in UTF-16
      // code-unit order U+1F600 (a surrogate pair) sorts below U+FFFF, so a
      // String.compareTo pruner would drop the file holding U+FFFF
      val vals = Seq("\uE000", "\uFFFF", "\uD83D\uDE00")
      SnapshotStore.create(spark, vals.toDF("s").coalesce(1), path, statsColumns = Seq("s"))
      val es = SnapshotStore.entries(spark, path, 1)
      assert(es.size == 1 && es.head.stats("s").lo == "\uE000" &&
        es.head.stats("s").hi == "\uD83D\uDE00")
      val q = "\uFFFF"
      assert(SnapshotStore.pruned(es, "s", q, q).size == 1)
      assert(SnapshotStore.readRelation(spark, path).filter(col("s") === q).count() == 1)
      assert(SnapshotStore.read(spark, path).filter(col("s") === q).count() == 1)
      // a value past the interval still prunes
      assert(SnapshotStore.pruned(es, "s", "\uD83D\uDE01", "\uD83D\uDE01").isEmpty)
    }
  }

  test("compaction is content-neutral: read(v-1) and read(v) are equal multisets") {
    withTable { path =>
      val d = docs.filter(col("doc_id") < 300)
      SnapshotStore.create(spark, d, path, statsColumns = Seq("doc_id"),
        clusterBy = Seq("doc_id"), numFiles = 3)
      SnapshotStore.append(spark, d.filter(col("doc_id") < 40), path) // duplicate rows
      SnapshotStore.deleteWhereMoR(spark, path, col("lang") === "de") // tombstones
      assert(SnapshotStore.tombstoneEntries(spark, path, 3).nonEmpty)
      val v = SnapshotStore.compact(spark, path, Long.MaxValue, clusterBy = Seq("doc_id"))
      assert(v == 4L && SnapshotStore.tombstoneEntries(spark, path, v).isEmpty)
      val before = SnapshotStore.readVersion(spark, path, v - 1)
      val after = SnapshotStore.readVersion(spark, path, v)
      assert(before.count() > d.filter(col("lang") =!= "de").count(), "duplicates kept")
      assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
      assert(before.count() == after.count())
      assert(SnapshotStore.changesBetween(spark, path, v - 1, v).isEmpty)
      // a mixed window (append, then compact) still delivers the append
      val add = d.filter(col("doc_id") < 5).withColumn("lang", lit("zz"))
      SnapshotStore.append(spark, add, path)
      val c = SnapshotStore.compact(spark, path, Long.MaxValue)
      val fromBetween = SnapshotStore.changesBetween(spark, path, v, c)
      assert(fromBetween.filter(col("change_type") =!= "insert").isEmpty)
      assert(fromBetween.drop("change_type").exceptAll(add).isEmpty &&
        add.exceptAll(fromBetween.drop("change_type")).isEmpty)
      val legs = SnapshotStore.changeFeedLegs(spark, path, v, c).reduce(_ unionByName _)
      assert(legs.filter(col("change_type") =!= "insert" ||
        col("_commit_version") =!= c - 1).isEmpty)
      val legRows = legs.drop("change_type", "_commit_version")
      assert(legRows.exceptAll(add).isEmpty && add.exceptAll(legRows).isEmpty)
    }
  }
}
