package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Test-only local file system under its own `countfs:` scheme, so only a
  * suite that spells its paths `countfs://…` ever reaches it. It counts
  * `listStatus` and `open` calls per file or directory NAME (e.g.
  * `list _snapshots`, `open format`), which is what a metadata-I/O law
  * asserts on. Everything else is the plain local file system. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.bump("list", f)
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.bump("open", f)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  private def bump(op: String, f: Path): Unit =
    counts.computeIfAbsent(s"$op ${f.getName}", _ => new AtomicLong).incrementAndGet()

  /** Register the scheme with `spark`'s Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)

  /** `local` (an absolute local path) spelled under this scheme. */
  def path(local: String): String = s"$Scheme://$local"

  def reset(): Unit = counts.clear()

  /** How often `op` (`list` or `open`) hit a path named `name` since the
    * last [[reset]]. */
  def count(op: String, name: String): Long =
    Option(counts.get(s"$op $name")).fold(0L)(_.get)
}
