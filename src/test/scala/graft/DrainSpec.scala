package graft

import java.io.File

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Drain

class DrainSpec extends AnyFunSuite {
  import TestSpark._

  test("scope: a throwing body leaves shuffle partitions as they were and no temp tree") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "7")
    var tmp: File = null
    var inside: String = null
    val ex = intercept[IllegalStateException] {
      Drain.scope(spark, "graft_drainspec_", Some(7)) { dir =>
        tmp = dir
        assert(new File(dir, "ckpt/offsets").mkdirs())
        inside = spark.conf.get("spark.sql.shuffle.partitions")
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage == "body failed")
    assert(inside == "7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(tmp != null && !tmp.exists())
  }

  test("batches: one file per trigger calls f with ids 0, 1, 2; a rerun calls it zero times") {
    Drain.scope(spark, "graft_drainspec_") { tmp =>
      val landing = new File(tmp, "landing")
      assert(landing.mkdirs())
      (0 until 3).foreach { i =>
        java.nio.file.Files.writeString(new File(landing, s"f$i.json").toPath,
          (0 until 5).map(j => s"""{"id": ${i * 5 + j}}""").mkString("\n"))
      }
      val ckpt = new File(tmp, "ckpt").getAbsolutePath
      val schema = StructType(Seq(StructField("id", LongType)))
      val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def drain() = Drain.batches(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(landing.getAbsolutePath), ckpt) { (batch, id) =>
        calls.add(id -> batch.count())
      }
      val q = drain()
      assert(!q.isActive && q.exception.isEmpty)
      assert(calls.toArray.toSeq == Seq(0L -> 5L, 1L -> 5L, 2L -> 5L))
      calls.clear()
      drain()
      assert(calls.isEmpty)
    }
  }
}
