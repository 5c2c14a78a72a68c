package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ManifestCodec, SnapshotStore}
import graft.operators.SnapshotStore.ManifestRow
import graft.util.Fs

/** Laws of the driver-side manifest metadata: manifest reads and writes run
  * no Spark job, footer stats equal the aggregate they replace, and
  * segments written by Spark's own parquet writer fold identically. */
class ManifestCodecSpec extends AnyFunSuite {
  import TestSpark._

  private def withTable[A](f: String => A): A = {
    val tmp = Files.createTempDirectory("graft-codec").toFile
    try f(new java.io.File(tmp, "t").getAbsolutePath)
    finally Fs.deleteTree(tmp)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBusDrain(spark.sparkContext)
      (n.get, a)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def keyed(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, 1).toDF("k").withColumn("v", col("k") * 2)

  test("job-count law: manifest metadata runs no Spark job") {
    withTable { path =>
      SnapshotStore.create(spark, keyed(0, 50), path, statsColumns = Seq("k"),
        txn = Some(("L", 0L)))
      // an append of a one-partition frame with a long stats column runs
      // its data-write job and nothing else (stats come from the footer)
      val (appendJobs, v2) = jobsOf(SnapshotStore.append(spark, keyed(50, 80), path))
      assert(v2 == 2L)
      assert(appendJobs == 1, s"append ran $appendJobs jobs, want only the data write")
      SnapshotStore.compact(spark, path, Long.MaxValue)
      SnapshotStore.compact(spark, path, Long.MaxValue)
      val (entryJobs, es) = jobsOf(SnapshotStore.entries(spark, path, 4))
      assert(entryJobs == 0 && es.map(_.rows).sum == 80)
      val (txnJobs, mark) = jobsOf(SnapshotStore.lastTxn(spark, path, "L"))
      assert(txnJobs == 0 && mark.contains(0L))
      // a window of compactions alone: answered from the markers
      val (cdcJobs, rows) = jobsOf(SnapshotStore.changesBetween(spark, path, 2, 4).collect())
      assert(cdcJobs == 0 && rows.isEmpty)
      val (legJobs, legRows) = jobsOf(
        SnapshotStore.changeFeedLegs(spark, path, 3, 4).map(_.collect().length).sum)
      assert(legJobs == 0 && legRows == 0)
    }
  }

  test("footer stats equal the aggregate stats for every encoder type") {
    import spark.implicits._
    val texts = Seq("apple", "\u00fcmlaut", "\u65e5\u672c", "", "\uE000", "\uFFFF",
      "\uD83D\uDE00", "zz")
    // days and sub-millisecond seconds apart, so MILLIS truncation shows
    val shift = make_interval(lit(0), lit(0), lit(0), col("i") * 400 - 1000,
      lit(0), lit(0), (col("i") * 1.234567).cast(DecimalType(18, 6)))
    val base = texts.zipWithIndex.toDF("s", "i")
      .withColumn("b", (col("i") - 3).cast(ByteType))
      .withColumn("sh", (col("i") * 1000 - 3000).cast(ShortType))
      .withColumn("l", (col("i") - 3).cast(LongType) * 10000000000L)
      .withColumn("d", (col("i") / 4 - 1).cast(DecimalType(10, 2)))
      .withColumn("dd", (col("i") * 1.5 - 4).cast(DecimalType(30, 5)))
      .withColumn("dt", date_add(lit("1970-01-01").cast(DateType), col("i") * 9000 - 20000))
      .withColumn("ntz", lit("1999-12-31 23:59:59.123456").cast(TimestampNTZType) + shift)
      .withColumn("ts", lit("2001-02-03 04:05:06.789012").cast(TimestampType) + shift)
      .withColumn("alln", lit(null).cast(IntegerType))
      .withColumn("f", col("i").cast(DoubleType) / 3)
    val cols = Seq("i", "b", "sh", "l", "d", "dd", "s", "dt", "ntz", "ts", "alln", "f")
    for (tsType <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) withTable { path =>
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
      try {
        SnapshotStore.create(spark, base.repartition(3, col("i")), path,
          statsColumns = cols, numFiles = 3)
        val es = SnapshotStore.entries(spark, path, 1)
        assert(es.size >= 2 && es.map(_.rows).sum == texts.size)
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        es.foreach { e =>
          val file = new Path(root, e.path).toString
          val df = spark.read.parquet(file)
          assert(df.count() == e.rows)
          val meta = ManifestCodec.footer(fs, fs.getFileStatus(new Path(file)))
          cols.foreach { c =>
            val (kind, enc) = SnapshotStore.statsEncoder(df.schema(c).dataType).get
            val r = df.agg(enc(min(col(c))), enc(max(col(c)))).head()
            val want = Option(r.getString(0)).map(lo =>
              SnapshotStore.ColStats(lo, r.getString(1), kind))
            assert(e.stats.get(c) == want, s"$tsType $c in ${e.path}")
            // the footer answers every type but Float/Double and INT96
            val footer = ManifestCodec.footerInterval(meta, c, df.schema(c).dataType,
              binaryTruncated = false)
            val byAggregate = c == "f" || (c == "ts" && tsType == "INT96")
            assert(footer.isEmpty == byAggregate, s"$tsType $c footer $footer")
            if (!byAggregate) assert(footer.get == want.map(s => (s.lo, s.hi)))
          }
        }
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.parquet.outputTimestampType", p)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
  }

  test("a zero-row part file is never referenced") {
    withTable { path =>
      SnapshotStore.create(spark, keyed(0, 0), path, statsColumns = Seq("k"))
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(new Path(root, "data")).flatMap(d => fs.listStatus(d.getPath))
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(parts.nonEmpty, "Spark writes one zero-row part for an empty frame")
      assert(parts.forall(p => ManifestCodec.rowCount(ManifestCodec.footer(fs, p)) == 0L))
      assert(SnapshotStore.entries(spark, path, 1).isEmpty)
      assert(SnapshotStore.read(spark, path).count() == 0L)
    }
  }

  test("segments and checkpoints in Spark's own layout fold to the same entries") {
    withTable { path =>
      SnapshotStore.create(spark, keyed(0, 40), path, statsColumns = Seq("k"),
        numFiles = 2, txn = Some(("L", 0L)))
      SnapshotStore.append(spark, keyed(40, 60), path, txn = Some(("L", 1L)))
      SnapshotStore.deleteWhere(spark, path, col("k") < 5)          // removes
      SnapshotStore.checkpointManifest(spark, path)                 // ckpt-3
      SnapshotStore.deleteWhereMoR(spark, path, col("k") === 30L)   // tombstone
      SnapshotStore.append(spark, keyed(60, 70), path, txn = Some(("M", 7L)))
      val vs = SnapshotStore.versions(spark, path)
      def snapshot = vs.map { v =>
        (SnapshotStore.entries(spark, path, v), SnapshotStore.tombstoneEntries(spark, path, v),
          SnapshotStore.readVersion(spark, path, v).orderBy("k").collect().toSeq)
      }
      val before = snapshot
      val marks = (SnapshotStore.lastTxn(spark, path, "L"), SnapshotStore.lastTxn(spark, path, "M"))
      assert(marks == (Some(1L), Some(7L)))
      // rewrite every segment and the checkpoint with Spark's writer:
      // part-…-c000.snappy.parquet plus _SUCCESS, as earlier versions did
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val segs = fs.listStatus(new Path(root, "_snapshots")).map(_.getPath)
        .filter(p => p.getName.matches("(v|ckpt-)[0-9]+"))
      assert(segs.exists(_.getName == "ckpt-3"))
      implicit val enc = Encoders.product[ManifestRow]
      segs.foreach { d =>
        val rows = ManifestCodec.read(fs, d)
        assert(spark.read.schema(enc.schema).parquet(d.toString).as[ManifestRow]
          .collect().toSeq.sortBy(_.path) == rows.sortBy(_.path),
          s"Spark reads ${d.getName} as the codec does")
        Fs.deleteTree(new java.io.File(d.toUri.getPath))
        spark.createDataset(rows).coalesce(1).write.parquet(d.toString)
        assert(fs.exists(new Path(d, "_SUCCESS")))
      }
      assert(snapshot == before)
      assert((SnapshotStore.lastTxn(spark, path, "L"),
        SnapshotStore.lastTxn(spark, path, "M")) == marks)
    }
  }
}
