package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. TWO timed passes, min per
  * query: pass 1 doubles as the JVM/codegen warmup (its first-query JIT
  * cost lands in pass 1's numbers, and the min discards it), so the
  * battery's wall clock is ~2× the reported total instead of the 3× a
  * separate warmup pass cost — the round-9 driver bench timed out (rc
  * 124) on exactly that wall-vs-window margin. A soft deadline
  * (SPARK_GRAFT_DEADLINE_S, default 2400 s) degrades gracefully: once
  * exceeded, remaining pass-2 re-runs are skipped and their pass-1 times
  * stand — every query still gets a timing row, and the artifact always
  * lands inside the driver's window. */
object Bench {
  /** SPARK_GRAFT_ONLY=q1,x29,... restricts a run to those SparkEntry names
    * (local iteration on a regression); unset = every query, the full
    * battery. [[Verify]] reads the same variable. */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY")
      .forall(_.split(",").map(_.trim).contains(name))

  /** The session [[Verify]] checks and the battery times: local[cpus],
    * SPARK_GRAFT_CPUS if set, else every core of this host. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // Scale-aware shuffle sizing (the partitions-∝-input rule): a fixed
    // shuffle.partitions is right only at one data scale — the round-7
    // 10× runs measured ~10% excess on the corpus-linear tail (x45) from
    // partition-size growth under the un-retuned 32. The rule: set
    // SPARK_GRAFT_INITIAL_PARTITIONS ≈ max(cpus, shuffled bytes / 64 MiB)
    // (≈ cpus × data-scale multiple here), and AQE's advisory sizing
    // coalesces DOWN to right-sized partitions per stage — so the knob is
    // an upper bound that costs nothing when data is small, and removes
    // the oversize-partition tax when it is big. On a real cluster the
    // same rule is spark.sql.adaptive.coalescePartitions.initialPartitionNum
    // sized from table statistics. Unset = the initial count equals
    // shuffle.partitions (= cpus), the recorded-baseline configuration.
    val initial = sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    initial.foreach(n =>
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One full battery (min of two timed passes per query — pass 1 is the
    * warmup); prints the one-line JSON record and returns the per-query
    * seconds (-1.0 sentinel for a failed query). */
  def runBattery(spark: SparkSession, sfDir: String): Map[String, Double] = {
    val started = System.nanoTime()
    val deadlineS = sys.env.get("SPARK_GRAFT_DEADLINE_S")
      .flatMap(_.toDoubleOption).getOrElse(2400.0)
    def elapsedS: Double = (System.nanoTime() - started) / 1e9
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    // The dedup pipelines localCheckpoint intermediate frames; their RDD
    // blocks outlive the query's action and would accumulate in executor
    // storage memory across a 50+-query battery (measured: a 2.6× battery
    // slowdown under memory pressure). Dropping all persistent RDDs between
    // queries keeps every measurement cold-storage-clean; each bench call
    // builds a fresh plan, so nothing is ever re-read after its action.
    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // two timed passes, min per query — pass 1 absorbs JIT/codegen/footer
    // warmup and GC noise, pass 2 supplies the warm number; min-of-two
    // keeps the recorded floor clean without a third (untimed) pass.
    // A query that throws records the sentinel -1.0 (and lands in
    // "failed"), never a bogus elapsed time.
    def timeOne(n: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try { SparkEntry.queries(n)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      dropCheckpoints()
      elapsed
    }
    val pass1 = names.map(n => n -> timeOne(n)).toMap
    var skippedSecondPass = 0
    val results = names.map { n =>
      val a = pass1(n)
      // don't re-run a query that already failed just to discard the
      // result; past the soft deadline, let the pass-1 time stand so the
      // artifact still lands complete inside the driver's window
      val b =
        if (a < 0) -1.0
        else if (elapsedS > deadlineS) { skippedSecondPass += 1; a }
        else timeOne(n)
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    if (skippedSecondPass > 0)
      System.err.println(s"[bench] soft deadline ${deadlineS}s exceeded: " +
        s"$skippedSecondPass quer${if (skippedSecondPass == 1) "y" else "ies"} " +
        "report pass-1 times (no second pass)")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(line)
    // Durable per-query record: the driver's BENCH artifact keeps only the
    // stdout TAIL (the r7 artifact truncated to x33–x92 with "parsed":
    // null), so per-query regressions for p*/q* rows were not auditable
    // from it. Every battery therefore also lands its full JSON at a
    // stable in-repo path — overwrite, so the file is always the latest
    // complete battery on this machine.
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "/root/repo/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(recordPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () } // the record is best-effort, never fails a bench
    results.toMap
  }

  /** Exits 1 when any query failed (after its JSON line is printed):
    * `total` sums only the queries that ran, so a failure must not read
    * as a faster battery. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val results = runBattery(spark, sfDir)
    spark.stop()
    if (results.values.exists(_ < 0)) sys.exit(1)
  }
}

/** Robustness harness: the full battery twice in ONE JVM / one SparkSession,
  * without restarting anything between — the shape under which round 2's
  * driver battery degraded 2.6×. Prints two JSON lines plus a per-query
  * second-vs-first ratio summary; a healthy engine keeps pass 2 within the
  * shared-JVM noise band of pass 1 (no storage-memory creep). */
object BenchStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val first = Bench.runBattery(spark, sfDir)
    val second = Bench.runBattery(spark, sfDir)
    val ratios = first.keys.toSeq.sorted.collect {
      case n if first(n) > 0 && second(n) > 0 => n -> second(n) / first(n)
    }
    val worst = ratios.sortBy(-_._2).take(5)
      .map { case (n, r) => f"$n=${r}%.2f" }.mkString(", ")
    val t1 = first.values.filter(_ >= 0).sum
    val t2 = second.values.filter(_ >= 0).sum
    println(f"""{"metric":"stress_ratio","pass1_total":$t1%.2f,"pass2_total":$t2%.2f,"worst_ratios":"$worst"}""")
    spark.stop()
  }
}
