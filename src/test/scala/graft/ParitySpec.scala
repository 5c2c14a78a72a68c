package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Donki
import graft.operators.DedupAppend
import graft.queries.Parity

class ParitySpec extends AnyFunSuite {
  import TestSpark._

  test("P1 projection: all rows survive, edge semantics hold") {
    val out = Parity.p1IngestProject(spark, sf).collect()
    assert(out.length == 8) // 5 + 3 raw rows, no dedup in P1
    val malformed = out.find(_.getAs[String]("class_type") == "B7.4").get
    assert(malformed.isNullAt(malformed.fieldIndex("begin_time")),
      "malformed timestamp must cast to null")
    val missingKey = out.find(_.getAs[String]("class_type") == "C9.8").get
    assert(missingKey.isNullAt(missingKey.fieldIndex("active_region_num")),
      "absent JSON key must be null")
    // surrogate ids dense 1..n
    assert(out.map(_.getAs[Long]("id")).sorted.toSeq == (1L to 8L))
  }

  test("dedup-append is idempotent: append∘append = append") {
    val dir = Files.createTempDirectory("graft_test_da_").toString + "/t"
    val a = Donki.project(Donki.readJson(spark, Seq(Parity.jsonBody(Parity.batchA))))
    DedupAppend.append(spark, a, dir, Seq("flr_id"), Seq("class_type", "link"))
    val once = spark.read.parquet(dir).collect().toSet
    DedupAppend.append(spark, a, dir, Seq("flr_id"), Seq("class_type", "link"))
    val twice = spark.read.parquet(dir).collect().toSet
    assert(once == twice)
    assert(once.size == Parity.batchA.size)
  }

  test("conflict-skip keeps the first-written row per key") {
    val dir = Files.createTempDirectory("graft_test_cw_").toString + "/t"
    val a = Donki.project(Donki.readJson(spark, Seq(Parity.jsonBody(Parity.batchA))))
    val b = Donki.project(Donki.readJson(spark, Seq(Parity.jsonBody(Parity.batchB))))
    DedupAppend.append(spark, a, dir, Seq("flr_id"), Seq("class_type", "link"))
    DedupAppend.append(spark, b, dir, Seq("flr_id"), Seq("class_type", "link"))
    val byKey = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("flr_id") -> r.getAs[String]("class_type")).toMap
    assert(byKey.size == 7)
    assert(byKey("2025-05-29T19:46:00-FLR-001") == "M3.1") // batch A's version
    // key not the first column: the anti-join must not move it to the
    // front of the second batch's files (a using-join puts keys first,
    // and a table read takes its schema from whichever footer it opens)
    val keyLast = Files.createTempDirectory("graft_test_kl_").toString + "/t"
    def reorder(df: org.apache.spark.sql.DataFrame) =
      df.select((df.columns.filterNot(_ == "flr_id") :+ "flr_id").map(col): _*)
    DedupAppend.append(spark, reorder(a), keyLast, Seq("flr_id"), Seq("class_type", "link"))
    DedupAppend.append(spark, reorder(b), keyLast, Seq("flr_id"), Seq("class_type", "link"))
    val parts = new java.io.File(keyLast).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    assert(parts.size >= 2)
    parts.foreach(p => assert(spark.read.parquet(p).columns.toSeq == reorder(a).columns.toSeq, p))
    assert(spark.read.parquet(keyLast).count() == 7)
  }

  test("in-batch dedup picks deterministic survivor regardless of row order") {
    val dupA = Parity.batchA ++ Parity.batchB // contains the FLR-005 dup pair
    val fwd = Donki.readJson(spark, Seq(Parity.jsonBody(dupA)))
    val rev = Donki.readJson(spark, Seq(Parity.jsonBody(dupA.reverse)))
    def survivors(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
      val dir = Files.createTempDirectory("graft_test_ord_").toString + "/t"
      DedupAppend.append(spark, Donki.project(df), dir, Seq("flr_id"), Seq("class_type", "link"))
      spark.read.parquet(dir).collect()
        .map(r => r.getAs[String]("flr_id") -> r.getAs[String]("class_type")).toMap
    }
    assert(survivors(fwd) == survivors(rev))
  }

  test("scored p4 (DSv2 ingest) equals p3 (driver-side ingest) row for row") {
    val got = Parity.p4DsvSource(spark, sf).collect().toSeq
    val want = Parity.p3FullScan(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want)
  }
}
