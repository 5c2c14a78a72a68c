package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SnapshotStore.{ColStats, FileEntry, compareStats}

/** The zone map pushed INTO Catalyst: a [[FileIndex]] over one committed
  * snapshot manifest whose `listFiles` intersects the query's OWN data
  * filters with each file's recorded [min, max] — so a plain
  * `read.filter(col("k") between (a, b))` opens only the overlapping
  * files, with no hint parameter, no API beyond DataFrame. This is the
  * planner-integrated form of `SnapshotStore.pruned`: Spark hands every
  * scan's conjunctive data filters to its FileIndex at planning time, and
  * files proven disjoint never reach the reader (row-group pushdown then
  * prunes within the survivors as usual).
  *
  * Supported shapes — `attr op literal` (and mirrored) for >, >=, <, <=,
  * =, <=>, plus IN (literal list) and nested ANDs; every other predicate
  * (OR, functions, UDFs) simply declines to prune, which is always SOUND:
  * pruning may only drop files PROVEN disjoint, and a file with no
  * recorded interval on the column is always kept. Exclusive bounds are
  * relaxed to inclusive (sound, marginally less pruning).
  *
  * Listing is manifest-sized driver work with ZERO filesystem RPCs: the
  * manifest already records each file's length, so the FileStatus handed
  * to the scan is synthesized from it. At 100 TB that is the point — the
  * planner prunes from metadata it already holds, and never lists or
  * stats a directory at all. */
final class SnapshotFileIndex(
    root: Path,
    entries: Seq[FileEntry],
    schema: StructType) extends FileIndex {

  override val rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = StructType(Nil)
  override val sizeInBytes: Long = entries.map(_.bytes).sum
  override def refresh(): Unit = () // a committed manifest is immutable

  private def abs(e: FileEntry): Path = new Path(root, e.path)
  override def inputFiles: Array[String] = entries.map(abs(_).toString).toArray

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** Canonical-string spelling of a literal, matching the manifest's
    * encoding for the column kind; None = unencodable → do not prune.
    * TimestampType literals (epoch micros — an instant) canonicalize as
    * the micros value itself, matching the writer's `unix_micros` `num`
    * encoding: both sides are zone-free, so a non-UTC session cannot make
    * writer and pruner disagree. TimestampNTZ micros carry a zone-free
    * wall clock; they render through the fixed UTC-anchored formatter,
    * which is the identity inverse of the writer's `date_format`. */
  private def canon(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (s: UTF8String, StringType) => Some(s.toString)
    case (i: java.lang.Number, ByteType | ShortType | IntegerType | LongType |
                               FloatType | DoubleType) => Some(i.toString)
    case (d: Decimal, _: DecimalType) => Some(d.toBigDecimal.bigDecimal.toPlainString)
    case (days: Integer, DateType) =>
      Some(java.time.LocalDate.ofEpochDay(days.toLong).toString)
    case (micros: java.lang.Long, TimestampType) => Some(micros.toString)
    case (micros: java.lang.Long, TimestampNTZType) =>
      Some(tsFmt.format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
    case _ => None
  }

  /** Keep `e` unless its interval on `colName` is PROVEN disjoint from
    * [lo, hi] (either side open). An unparseable stats string (foreign or
    * corrupt manifest) keeps the file — pruning must never drop a file it
    * cannot prove disjoint. */
  private def overlaps(e: FileEntry, colName: String,
                       lo: Option[String], hi: Option[String]): Boolean =
    e.stats.get(colName) match {
      case Some(ColStats(eLo, eHi, kind)) =>
        try lo.forall(l => compareStats(kind, eHi, l) >= 0) &&
          hi.forall(h => compareStats(kind, eLo, h) <= 0)
        catch { case _: NumberFormatException => true }
      case None => true // no interval recorded: never prune
    }

  private def prune(es: Seq[FileEntry], f: Expression): Seq[FileEntry] = f match {
    case And(l, r) => prune(prune(es, l), r)
    case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), None)))
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), None)))
    case LessThan(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, None, Some(s))))
    case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, None, Some(s))))
    case EqualTo(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), Some(s))))
    case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), Some(s))))
    // mirrored literal-first spellings
    case GreaterThan(Literal(v, dt), a: AttributeReference) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, None, Some(s))))
    case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, None, Some(s))))
    case LessThan(Literal(v, dt), a: AttributeReference) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), None)))
    case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), None)))
    case EqualTo(Literal(v, dt), a: AttributeReference) =>
      canon(v, dt).fold(es)(s => es.filter(overlaps(_, a.name, Some(s), Some(s))))
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val canons = vs.map { case Literal(v, dt) => canon(v, dt) }
      if (canons.exists(_.isEmpty)) es
      else es.filter(e => canons.flatten.exists(s => overlaps(e, a.name, Some(s), Some(s))))
    case _ => es // unsupported shape: decline to prune (always sound)
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = dataFilters.foldLeft(entries)(prune)
    // FileStatus synthesized from manifest-recorded lengths: zero FS RPCs
    val statuses = kept.map(e =>
      new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024, 0L, abs(e))).toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }
}
