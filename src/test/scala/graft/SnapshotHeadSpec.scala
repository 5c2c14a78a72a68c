package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotStore
import graft.util.Fs

/** Metadata-I/O law of the snapshot store: each operation resolves the
  * table head ONCE. On a table past its first manifest checkpoint, every
  * op lists `_snapshots/` at most once per commit attempt and opens the
  * `format`, `schema` and `statscols` files at most once each — counted
  * by [[CountingFs]], not argued. */
class SnapshotHeadSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.t(spark, sf, "documents")
    .select(col("doc_id"), col("text"), col("lang"))

  test("every op lists _snapshots once and opens format/schema/statscols at most once") {
    CountingFs.install(spark)
    val tmp = Files.createTempDirectory("graft-head").toFile
    try {
      val path = CountingFs.path(new java.io.File(tmp, "t").getAbsolutePath)
      SnapshotStore.create(spark, docs.filter(col("doc_id") < 10), path,
        statsColumns = Seq("doc_id"))
      (1 to 16).foreach(i => SnapshotStore.append(spark,
        docs.filter(col("doc_id") === 9 + i), path))
      val vs = SnapshotStore.versions(spark, path)
      assert(vs.size >= 17, s"need a table past its first checkpoint, got $vs")
      assert(new java.io.File(tmp, "t/_snapshots").list().exists(_.startsWith("ckpt-")),
        "the table must be past an auto-rolled checkpoint")
      def once(what: String)(op: => Any): Unit = {
        CountingFs.reset()
        op
        val lists = CountingFs.count("list", "_snapshots")
        assert(lists == 1, s"$what listed _snapshots $lists times")
        Seq("format", "schema", "statscols").foreach { f =>
          val n = CountingFs.count("open", f)
          assert(n <= 1, s"$what opened $f $n times")
        }
      }
      val batch = docs.filter(col("doc_id").between(20, 40))
      once("appendDedup")(SnapshotStore.appendDedup(spark, batch, path,
        keys = Seq("doc_id"), tieBreak = Nil))
      once("appendDedup(txn)")(SnapshotStore.appendDedup(spark,
        docs.filter(col("doc_id").between(41, 45)), path,
        keys = Seq("doc_id"), tieBreak = Nil, txn = Some(("lineage", 0L))))
      once("append(txn)")(SnapshotStore.append(spark,
        docs.filter(col("doc_id").between(46, 50)), path, txn = Some(("lineage", 1L))))
      once("append(txn) replay")(SnapshotStore.append(spark,
        docs.filter(col("doc_id").between(46, 50)), path, txn = Some(("lineage", 1L))))
      once("merge")(SnapshotStore.merge(spark,
        docs.filter(col("doc_id").between(45, 60)), path,
        keys = Seq("doc_id"), tieBreak = Nil))
      once("compact")(SnapshotStore.compact(spark, path, 1L << 20, clusterBy = Seq("doc_id")))
      once("read")(SnapshotStore.read(spark, path).count())
      once("readRelation")(SnapshotStore.readRelation(spark, path)
        .filter(col("doc_id") < 30).count())
      val cur = SnapshotStore.currentVersion(spark, path)
      once("changesBetween")(SnapshotStore.changesBetween(spark, path, 3L, cur - 1).count())
      once("changesBetween over a compaction")(
        SnapshotStore.changesBetween(spark, path, cur - 1, cur).count())
      // the table reads back exactly: ids 0..60, each once
      val ids = SnapshotStore.read(spark, path).select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == ids.distinct.sorted)
      assert(ids.toSet == docs.filter(col("doc_id") <= 60).select("doc_id")
        .collect().map(_.getLong(0)).toSet)
    } finally Fs.deleteTree(tmp)
  }
}
