package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageTypeParser, PrimitiveType}
import org.apache.spark.sql.types._

import graft.operators.SnapshotStore.{ColStats, ManifestRow}

/** Driver-side parquet codec for [[SnapshotStore]]'s manifest segments and
  * checkpoints. A segment is a few KB of [[ManifestRow]]s; writing or
  * folding it through a Spark job cost a job, a task set and the output
  * committer's rename dance per commit, for metadata the driver holds
  * anyway. This codec writes and reads the SAME layout Spark's writer
  * produces for `Dataset[ManifestRow]` (the product encoder's parquet
  * schema, one `part-…-c000.snappy.parquet` file per segment), so segments
  * written either way fold identically, and Spark can still read the
  * segments this codec writes (vacuum's referenced-set scan does).
  *
  * The read side addresses the map's repeated group and its key/value by
  * POSITION, so both the standard (`key_value`) and the legacy
  * (`map`) map spellings of older Spark writers decode. */
private[graft] object ManifestCodec {

  /** The parquet schema Spark writes for `Encoders.product[ManifestRow]`. */
  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary action (STRING);
      |  optional binary kind (STRING);
      |  optional binary path (STRING);
      |  required int64 rows;
      |  required int64 bytes;
      |  optional group stats (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      optional group value {
      |        optional binary lo (STRING);
      |        optional binary hi (STRING);
      |        optional binary kind (STRING);
      |      }
      |    }
      |  }
      |}""".stripMargin)

  /** Write `rows` as ONE parquet file inside `dir` (created on demand);
    * fails if the file exists. */
  def write(fs: FileSystem, dir: Path, rows: Seq[ManifestRow]): Unit = {
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(file, fs.getConf))
      .withConf(fs.getConf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE)
      .build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = f.newGroup()
      if (r.action != null) g.add("action", r.action)
      if (r.kind != null) g.add("kind", r.kind)
      if (r.path != null) g.add("path", r.path)
      g.add("rows", r.rows)
      g.add("bytes", r.bytes)
      if (r.stats != null) {
        val m = g.addGroup("stats")
        r.stats.toSeq.sortBy(_._1).foreach { case (k, s) =>
          val kv = m.addGroup("key_value")
          kv.add("key", k)
          if (s != null) {
            val v = kv.addGroup("value")
            if (s.lo != null) v.add("lo", s.lo)
            if (s.hi != null) v.add("hi", s.hi)
            if (s.kind != null) v.add("kind", s.kind)
          }
        }
      }
      w.write(g)
    } finally w.close()
  }

  private final class GroupReader(f: InputFile) extends ParquetReader.Builder[Group](f) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
  }

  /** A parquet part, not a marker (`_SUCCESS`) or checksum (`.crc`). */
  def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Every row of the segment directory `dir` (all its parquet parts, in
    * any layout Spark or [[write]] produced). A missing directory throws
    * `FileNotFoundException`. */
  def read(fs: FileSystem, dir: Path): Seq[ManifestRow] =
    fs.listStatus(dir).toSeq.filter(isDataFile).sortBy(_.getPath.getName)
      .flatMap { st =>
        val r = new GroupReader(HadoopInputFile.fromStatus(st, fs.getConf))
          .withConf(fs.getConf).build()
        try Iterator.continually(r.read()).takeWhile(_ != null).map(decode).toSeq
        finally r.close()
      }

  private def str(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)

  private def decode(g: Group): ManifestRow = {
    val stats =
      if (g.getFieldRepetitionCount("stats") == 0) Map.empty[String, ColStats]
      else {
        val m = g.getGroup("stats", 0)
        (0 until m.getFieldRepetitionCount(0)).iterator.flatMap { i =>
          val kv = m.getGroup(0, i)
          if (kv.getFieldRepetitionCount(1) == 0) None
          else {
            val v = kv.getGroup(1, 0)
            Some(kv.getString(0, 0) -> ColStats(str(v, "lo"), str(v, "hi"), str(v, "kind")))
          }
        }.toMap
      }
    ManifestRow(str(g, "action"), str(g, "kind"), str(g, "path"),
      g.getLong("rows", 0), g.getLong("bytes", 0), stats)
  }

  /** The footer of a freshly written data file (one small read). */
  def footer(fs: FileSystem, st: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
    try r.getFooter finally r.close()
  }

  /** Row count of a data file, from its footer. */
  def rowCount(meta: ParquetMetadata): Long =
    meta.getBlocks.asScala.iterator.map(_.getRowCount).sum

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
  private val (minDay, maxDay) = (java.time.LocalDate.of(1, 1, 1).toEpochDay,
    java.time.LocalDate.of(9999, 12, 31).toEpochDay)

  /** Column `c`'s [min, max] over one data file, read from its footer and
    * spelled in [[SnapshotStore]]'s canonical stats encoding for Spark
    * type `dt` (the spelling the `min`/`max` aggregate produced).
    * `Some(None)`: the column holds only nulls (no interval). `None`: the
    * footer cannot give the canonical interval EXACTLY, and the caller
    * aggregates the column instead. That is the case for
    *   - INT96 timestamps (Spark's default; parquet keeps no INT96 order),
    *   - Float/Double (the footer does not carry the NaN/±Inf rule),
    *   - dates and timestamps written with the legacy calendar rebase,
    *   - dates and timestamp_ntz values outside years 1–9999 (where the
    *     ISO spelling diverges),
    *   - string and binary decimals when parquet statistics truncation is
    *     configured (`binaryTruncated`: a truncated max is not the max),
    *   - any row group without min/max that still holds non-null values
    *     (parquet drops min/max past its statistics size limit). */
  def footerInterval(meta: ParquetMetadata, c: String, dt: DataType,
                     binaryTruncated: Boolean): Option[Option[(String, String)]] = {
    import PrimitiveType.PrimitiveTypeName._
    val blocks = meta.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
    val chunks = blocks.map(b => b ->
      b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c))))
    if (blocks.isEmpty || chunks.exists(_._2.isEmpty)) return None
    val pt = chunks.head._2.get.getPrimitiveType
    val rebased = meta.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.legacyDateTime")

    // fold every row group's [min, max] in the column's own order
    def interval[T](decode: Any => Option[T], lt: (T, T) => Boolean,
                    render: T => Option[String]): Option[Option[(String, String)]] = {
      var lo, hi: Option[T] = None
      chunks.foreach { case (b, ch) =>
        val st: org.apache.parquet.column.statistics.Statistics[_] = ch.get.getStatistics
        if (st == null || st.isEmpty) return None
        if (st.hasNonNullValue)
          (decode(st.genericGetMin), decode(st.genericGetMax)) match {
            case (Some(l), Some(h)) =>
              if (lo.forall(lt(l, _))) lo = Some(l)
              if (hi.forall(lt(_, h))) hi = Some(h)
            case _ => return None
          }
        else if (!st.isNumNullsSet || st.getNumNulls < b.getRowCount) return None
      }
      (lo, hi) match {
        case (Some(l), Some(h)) =>
          for (ls <- render(l); hs <- render(h)) yield Some(ls -> hs)
        case _ => Some(None) // every row group all-null
      }
    }
    def long(v: Any): Option[Long] = Some(v.asInstanceOf[Number].longValue)
    def micros(v: Any): Option[Long] = pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => long(v)
          case LogicalTypeAnnotation.TimeUnit.MILLIS => long(v).map(_ * 1000L)
          case _ => None
        }
      case _ => None
    }
    def inYears(days: Long) = days >= minDay && days <= maxDay
    val asText = (x: Long) => Some(x.toString)
    (dt, pt.getPrimitiveTypeName) match {
      case (ByteType | ShortType | IntegerType, INT32) | (LongType, INT64) =>
        interval[Long](long, _ < _, asText)
      case (d: DecimalType, INT32 | INT64) =>
        interval[java.math.BigDecimal](v => long(v).map(java.math.BigDecimal.valueOf(_, d.scale)),
          _.compareTo(_) < 0, x => Some(x.toPlainString))
      case (d: DecimalType, FIXED_LEN_BYTE_ARRAY | BINARY) if !binaryTruncated =>
        interval[java.math.BigDecimal](v => Some(new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), d.scale)),
          _.compareTo(_) < 0, x => Some(x.toPlainString))
      case (StringType, BINARY) if !binaryTruncated =>
        interval[String](v => Some(v.asInstanceOf[Binary].toStringUsingUTF8),
          SnapshotStore.compareStats("str", _, _) < 0, Some(_))
      case (DateType, INT32) if !rebased =>
        interval[Long](long, _ < _, d => Some(d).filter(inYears)
          .map(java.time.LocalDate.ofEpochDay(_).toString))
      case (TimestampType, INT64) if !rebased =>
        interval[Long](micros, _ < _, asText)
      case (TimestampNTZType, INT64) if !rebased =>
        interval[Long](micros, _ < _, u =>
          Some(u).filter(x => inYears(Math.floorDiv(x, 86400000000L))).map(x =>
            tsFmt.format(java.time.Instant.ofEpochSecond(
              Math.floorDiv(x, 1000000L), Math.floorMod(x, 1000000L) * 1000L))))
      case _ => None
    }
  }
}
