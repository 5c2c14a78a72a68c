package flarebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The `file` scheme with its operations counted: installed as
  * `fs.file.impl` in traced runs only. Each counter is one call the
  * program (or Spark on its behalf) makes through the FileSystem API. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listOps.incrementAndGet()
    if (f.getParent != null && f.getParent.getName == "_snapshots" &&
        Segment.matches(f.getName)) segmentLists.incrementAndGet()
    super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val readOps, listOps, writeOps, segmentLists = new AtomicLong
  /** A manifest delta segment (`v<N>`) or checkpoint (`ckpt-<N>`) dir. */
  private val Segment = "(v|ckpt-)\\d+".r
}

/** Counters sampled at span boundaries. All are running totals. */
final case class Sample(
    wallMs: Double, jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
    taskCpuMs: Double, taskGcMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
    spillB: Long, planningMs: Long, gcMs: Long, fsRead: Long, fsList: Long,
    fsWrite: Long, fsReadB: Long, fsWriteB: Long, segments: Long,
    triggers: Long, triggerMs: Long, addBatchMs: Long, latestOffsetMs: Long,
    getBatchMs: Long, walCommitMs: Long, commitOffsetsMs: Long,
    queryPlanningMs: Long, stateCommitMs: Long)

final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double, before: Sample, after: Sample) {
  def ms: Double = endMs - startMs
}

/** Spans around every call the benchmark makes into a layer, plus Spark's
  * public listener events and the counted file system. Off (the default)
  * it only runs the bodies and keeps plain counts; on, it drains the
  * listener bus at each boundary so a span's counters are its own. Spans
  * stay in memory and are written out once, at the end of the run. */
class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var sc: SparkContext = _
  private val t0 = System.nanoTime()
  private def nowMs = (System.nanoTime() - t0) / 1e6

  // listener totals; written on the listener thread, read after a drain
  private val jobs, stages, tasks, taskRunMs, taskGcMs, shW, shR, spill,
    planningMs, triggers, trigMs, addMs, latMs, getMs, walMs, comMs, qpMs,
    stCommitMs = new AtomicLong
  private val taskCpuNs = new AtomicLong
  @volatile private var stateRowsPeak, stateMemPeak, blockPeak = 0L
  private val blocks = mutable.Map.empty[String, Long]
  /** (start, end) of each job on the driver clock, in ms since epoch. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val epochAtT0 = System.currentTimeMillis() - nowMs

  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        jobs.incrementAndGet(); jobStarts(e.jobId) = e.time
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          if (info.storageLevel.isValid) blocks(key) = info.memSize + info.diskSize
          else blocks.remove(key)
          blockPeak = math.max(blockPeak, blocks.values.sum)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = planningMs.addAndGet(
        qe.tracker.phases.iterator.collect {
          case (p, s) if p != "parsing" => s.durationMs
        }.sum)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        triggers.incrementAndGet()
        trigMs.addAndGet(d.getOrElse("triggerExecution", 0L))
        addMs.addAndGet(d.getOrElse("addBatch", 0L))
        latMs.addAndGet(d.getOrElse("latestOffset", 0L))
        getMs.addAndGet(d.getOrElse("getBatch", 0L))
        walMs.addAndGet(d.getOrElse("walCommit", 0L))
        comMs.addAndGet(d.getOrElse("commitOffsets", 0L))
        qpMs.addAndGet(d.getOrElse("queryPlanning", 0L))
        val ops = p.stateOperators.toSeq
        stCommitMs.addAndGet(ops.map(_.commitTimeMs).sum)
        stateRowsPeak = math.max(stateRowsPeak, ops.map(_.numRowsTotal).sum)
        stateMemPeak = math.max(stateMemPeak, ops.map(_.memoryUsedBytes).sum)
      }
    })
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def fsBytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private def sample(): Sample = {
    org.apache.spark.FlarebenchBus.drain(sc)
    val (rb, wb) = fsBytes
    Sample(nowMs, jobs.get, stages.get, tasks.get, taskRunMs.get, taskCpuNs.get / 1e6,
      taskGcMs.get, shW.get, shR.get, spill.get, planningMs.get, gcMs,
      CountingLocalFs.readOps.get, CountingLocalFs.listOps.get, CountingLocalFs.writeOps.get,
      rb, wb, CountingLocalFs.segmentLists.get, triggers.get, trigMs.get, addMs.get,
      latMs.get, getMs.get, walMs.get, comMs.get, qpMs.get, stCommitMs.get)
  }

  /** Runs `body` as one span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = sample()
      stack.push(id)
      try body
      finally {
        stack.pop()
        val after = sample()
        spans += Span(id, parent, name, before.wallMs, after.wallMs, before, after)
      }
    }

  /** Drops the spans, counts and peaks recorded so far: the measured
    * rounds start here. */
  def reset(): Unit = {
    spans.clear(); counts.clear()
    stateRowsPeak = 0L; stateMemPeak = 0L
    synchronized { blockPeak = blocks.values.sum }
  }

  def count(name: String, v: Long): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Zone-map yield of a finished read: files its scans opened against
    * the files of the table version they scanned. */
  def scanFiles(df: DataFrame): Unit = if (on) {
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    count("store.read_files", scans.map(_.metrics("numFiles").value).sum)
    count("store.table_files", scans.map(_.relation.location.inputFiles.length.toLong).sum)
  }

  /** Per-layer metrics per measured round: spans named `round` delimit the
    * measured work; everything before the first one (set-up, warm-up) is
    * left out. */
  def perLayer(rows: Seq[String], tableMb: Double): Seq[(String, Double, String)] = {
    val rounds = spans.filter(_.name == "round")
    val n = math.max(1, rounds.size).toDouble
    val first = rounds.headOption.map(_.before)
    val last = rounds.lastOption.map(_.after)
    def total(f: Sample => Double): Double =
      (for (a <- first; b <- last) yield f(b) - f(a)).getOrElse(0.0)
    def per(f: Sample => Double) = total(f) / n
    val roundWall = rounds.map(_.ms).sum
    val covered = rounds.map(r => jobCoveredMs(r.startMs, r.endMs)).sum
    def named(prefix: String) = spans.filter(s => s.name == prefix)
    def spanMs(name: String) = named(name).map(_.ms).sum / n
    def spanDelta(name: String)(f: Sample => Double) =
      named(name).map(s => f(s.after) - f(s.before)).sum / n
    val fsOps: Sample => Double = s => (s.fsRead + s.fsList + s.fsWrite).toDouble
    val mb = 1024.0 * 1024.0
    val c = (k: String) => counts.getOrElse(k, 0.0) / n
    Seq(
      ("spark.jobs", per(_.jobs.toDouble), "count"),
      ("spark.stages", per(_.stages.toDouble), "count"),
      ("spark.tasks", per(_.tasks.toDouble), "count"),
      ("spark.job_ms", covered / n, "ms"),
      ("spark.driver_ms", (roundWall - covered) / n, "ms"),
      ("spark.planning_ms", per(_.planningMs.toDouble), "ms"),
      ("spark.task_run_ms", per(_.taskRunMs.toDouble), "ms"),
      ("spark.task_cpu_ms", per(_.taskCpuMs), "ms"),
      ("spark.task_gc_ms", per(_.taskGcMs.toDouble), "ms"),
      ("spark.shuffle_write_mb", per(_.shuffleWriteB / mb), "MB"),
      ("spark.shuffle_read_mb", per(_.shuffleReadB / mb), "MB"),
      ("spark.spill_mb", per(_.spillB / mb), "MB"),
      ("spark.block_mb", blockPeak / mb, "MB"),
      ("jvm.gc_ms", per(_.gcMs.toDouble), "ms"),
      ("fs.read_ops", per(_.fsRead.toDouble), "count"),
      ("fs.list_ops", per(_.fsList.toDouble), "count"),
      ("fs.write_ops", per(_.fsWrite.toDouble), "count"),
      ("fs.read_mb", per(_.fsReadB / mb), "MB"),
      ("fs.write_mb", per(_.fsWriteB / mb), "MB"),
      ("ingest.fetch_ms", spanMs("ingest.fetch"), "ms"),
      ("ingest.parse_ms", spanMs("ingest.parse"), "ms"),
      ("ingest.rows_offered", c("ingest.rows_offered"), "count"),
      ("ingest.rows_committed", c("ingest.rows_committed"), "count"),
      ("store.commit_ms", spanMs("store.commit"), "ms"),
      ("store.commit_jobs", spanDelta("store.commit")(_.jobs.toDouble), "count"),
      ("store.commit_fs_ops", spanDelta("store.commit")(fsOps), "count"),
      ("store.read_ms", spanMs("store.read"), "ms"),
      ("store.read_files", c("store.read_files"), "count"),
      ("store.table_files", c("store.table_files"), "count"),
      ("store.fold_segments", per(_.segments.toDouble), "count"),
      ("store.cdc_ms", spanMs("store.cdc"), "ms"),
      ("store.compact_ms", spanMs("store.compact"), "ms"),
      ("store.versions", c("store.versions"), "count"),
      ("store.table_mb", tableMb, "MB"),
      ("stream.triggers", per(_.triggers.toDouble), "count"),
      ("stream.trigger_ms", per(_.triggerMs.toDouble), "ms"),
      ("stream.add_batch_ms", per(_.addBatchMs.toDouble), "ms"),
      ("stream.latest_offset_ms", per(_.latestOffsetMs.toDouble), "ms"),
      ("stream.get_batch_ms", per(_.getBatchMs.toDouble), "ms"),
      ("stream.wal_commit_ms", per(_.walCommitMs.toDouble), "ms"),
      ("stream.commit_offsets_ms", per(_.commitOffsetsMs.toDouble), "ms"),
      ("stream.query_planning_ms", per(_.queryPlanningMs.toDouble), "ms"),
      ("state.commit_ms", per(_.stateCommitMs.toDouble), "ms"),
      ("state.rows", stateRowsPeak.toDouble, "count"),
      ("state.memory_mb", stateMemPeak / mb, "MB")
    ) ++ rows.flatMap { r =>
      val ss = named(s"row.$r")
      Seq(
        (s"row.$r.ms", ss.map(_.ms).sum / n, "ms"),
        (s"row.$r.jobs", ss.map(s => (s.after.jobs - s.before.jobs).toDouble).sum / n, "count"),
        (s"row.$r.driver_ms", ss.map(s => s.ms - jobCoveredMs(s.startMs, s.endMs)).sum / n, "ms"))
    }
  }

  /** Milliseconds of [from, to] (tracer clock) covered by at least one job. */
  private def jobCoveredMs(from: Double, to: Double): Double = synchronized {
    val (a, b) = (from + epochAtT0, to + epochAtT0)
    val clipped = jobIntervals.iterator
      .map { case (s, e) => (math.max(s.toDouble, a), math.min(e.toDouble, b)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered, end = 0.0
    var cur = Double.NegativeInfinity
    for ((s, e) <- clipped) {
      if (s > cur) { covered += e - s; cur = e }
      else if (e > cur) { covered += e - cur; cur = e }
    }
    covered
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = spans.sortBy(_.id).map { s =>
      val d = (f: Sample => Double) => f(s.after) - f(s.before)
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""ms":${s.ms}%.3f,"jobs":${d(_.jobs.toDouble)}%.0f,"tasks":${d(_.tasks.toDouble)}%.0f,""" +
        f""""job_covered_ms":${jobCoveredMs(s.startMs, s.endMs)}%.3f,""" +
        f""""task_run_ms":${d(_.taskRunMs.toDouble)}%.0f,"planning_ms":${d(_.planningMs.toDouble)}%.0f,""" +
        f""""fs_ops":${d(x => (x.fsRead + x.fsList + x.fsWrite).toDouble)}%.0f,""" +
        f""""triggers":${d(_.triggers.toDouble)}%.0f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
