package flarebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Output checks of one run; any failed check makes the run incorrect. */
final class Check {
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(what: String, ok: Boolean): Unit =
    if (!ok && failures.size < 20) failures += what
}

/** One workload: a fixed round of operations, run again and again. */
trait Workload {
  /** Operations one round attempts. */
  def ops: Int
  /** Untimed rounds before the measured ones. */
  def warmupRounds: Int
  /** Everything a run needs before its first round: inputs, the expected
    * answers, anything the rounds read. Runs once per set-up repetition. */
  def setup(spark: SparkSession): Unit
  /** One round; returns how many of its `ops` threw. */
  def round(spark: SparkSession, r: Int, tr: Tracer, check: Check): Int
  /** Untimed checks and clean-up after a round. */
  def afterRound(spark: SparkSession, r: Int, check: Check): Unit = ()
  def teardown(): Unit = ()
  /** Size of the last round's table, for the store trace metrics. */
  def tableMb: Double = 0.0
}

/** One benchmark run in one JVM: `flarebench.Main <workload> <seed>
  * <seconds> <trace 0|1> <workDir> <sfDir> <cores> <rows> <allRows>`
  * (comma-separated lists: the workload's battery rows, and every row the
  * per-layer metrics name).
  * Writes
  * `<workDir>/result.json` (metrics, counts, check failures) and, traced,
  * `<workDir>/trace.jsonl` with every span. */
object Main {
  val SetupRepeats = 11

  def session(work: Path, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def flareDaily(seed: Long, work: Path): Workload = new Workload {
    private var in: FlareDaily.Inputs = _
    private var server: FlareDaily.Server = _
    private var lastMb = 0.0
    val ops = FlareDaily.Days
    // the cold round, then two more: round CPU time still falls over
    // the first rounds while the JIT compiles Spark's generated code
    val warmupRounds = 3
    private def table(r: Int) = work.resolve(s"flare/r$r")
    def setup(spark: SparkSession): Unit = {
      in = new FlareDaily.Inputs(seed)
      server = new FlareDaily.Server(in)
    }
    def round(spark: SparkSession, r: Int, tr: Tracer, check: Check): Int =
      FlareDaily.round(spark, in, server, table(r).toString, tr, check)
    override def afterRound(spark: SparkSession, r: Int, check: Check): Unit = {
      FlareDaily.verify(spark, in, table(r).toString, check)
      lastMb = Fs.sizeBytes(table(r)) / (1024.0 * 1024.0)
      Fs.delete(table(r))
    }
    override def teardown(): Unit = if (server != null) server.stop()
    override def tableMb: Double = lastMb
  }

  private def battery(names: Seq[String], sfDir: String, work: Path): Workload = new Workload {
    private val b = new Battery(names, sfDir, work.resolve("out").toString)
    val ops = names.size
    val warmupRounds = 2
    def setup(spark: SparkSession): Unit = ()
    def round(spark: SparkSession, r: Int, tr: Tracer, check: Check): Int =
      b.round(spark, tr, check)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, sfDir, coresS) = args.take(7)
    def list(i: Int) = args.lift(i).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val (rows, allRows) = (list(7), list(8))
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val work = Paths.get(workS).toAbsolutePath
    val cores = coresS.toInt
    val w =
      if (name == "flare_daily") flareDaily(seed, work)
      else battery(rows, sfDir, work)
    val tr = new Tracer(trace)
    val check = new Check

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // set-up, repeated: session start, inputs and expected answers
    val setupS, setupWallS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val (c, t) = (os.getProcessCpuTime, System.nanoTime())
      spark = session(work, cores, trace)
      w.setup(spark)
      setupS += (os.getProcessCpuTime - c) / 1e9
      setupWallS += (System.nanoTime() - t) / 1e9
      if (i < SetupRepeats) { w.teardown(); spark.stop() }
    }
    tr.attach(spark)
    def phase(what: String): Unit = System.err.println(
      f"[flarebench] $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    phase("set-up done")

    // untimed warm-up rounds: class loading, codegen caches, JIT
    var (failed, attempted, r) = (0, 0, 0)
    while (r < w.warmupRounds) {
      failed += w.round(spark, r, tr, check)
      attempted += w.ops
      w.afterRound(spark, r, check)
      r += 1
    }
    // live heap: the least heap in use over three full collections, each
    // after a pause that lets Spark's cleaner drop what the last one freed.
    // Taken after the fixed number of warm-up rounds: taken after the
    // measured rounds, it read 89.7 or 103 MB on `flare_daily` as the
    // measured time fitted three or four rounds.
    val retainedMb = (1 to 3).map { _ =>
      Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    tr.reset()
    phase("warm-up done")

    val walls, cpus = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (c, t) = (os.getProcessCpuTime, System.nanoTime())
      failed += tr.span("round")(w.round(spark, r, tr, check))
      walls += (System.nanoTime() - t) / 1e9
      cpus += (os.getProcessCpuTime - c) / 1e9
      attempted += w.ops
      w.afterRound(spark, r, check)
      r += 1
    }

    phase("measured rounds done")
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    val layers = if (trace) tr.perLayer(allRows, w.tableMb) else Nil
    tr.write(work.resolve("trace.jsonl"))
    w.teardown()
    spark.stop()

    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def metric(n: String, v: Double, unit: String) =
      s""""$n":{"value":$v,"unit":"$unit"}"""
    val e2e = Seq(
      metric("setup_s", median(setupS.toSeq), "s"),
      metric("cpu_s", median(cpus.toSeq), "s"),
      metric("peak_rss_mb", peakRssMb, "MB"),
      metric("retained_heap_mb", retainedMb, "MB"))
    val perLayer = layers.map { case (n, v, u) => metric(n, v, u) }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json =
      s"""{"workload":"$name","attempted":$attempted,"failed":$failed,""" +
        s""""rounds":${walls.size},"round_s":${walls.mkString("[", ",", "]")},""" +
        s""""round_cpu_s":${cpus.mkString("[", ",", "]")},"run_s":${median(walls.toSeq)},""" +
        s""""setup_s":${setupS.mkString("[", ",", "]")},""" +
        s""""setup_wall_s":${setupWallS.mkString("[", ",", "]")},"jvm_start_s":$jvmStartS,""" +
        s""""checks_failed":${check.failures.map(q).mkString("[", ",", "]")},""" +
        s""""end_to_end":{${e2e.mkString(",")}},"per_layer":{${perLayer.mkString(",")}}}"""
    Files.writeString(work.resolve("result.json"), json)
    phase("result written")
    println(json)
  }
}

object Fs {
  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
