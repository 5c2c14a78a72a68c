package graft.util

import org.apache.spark.sql.SparkSession

/** The one spelling of the save/set/restore session-conf dance. Streaming
  * queries size `spark.sql.shuffle.partitions` to their state (the knob a
  * real deployment sets per stream), and the AQE gates pin skew
  * thresholds — in both cases the previous values must be restored even
  * when the body throws, or the leaked setting skews every subsequent
  * query in the session (a 32-cpu battery running on 8 shuffle
  * partitions). */
object Confs {
  /** The state-sizing rule [[graft.streaming.Drain]] documents: stateful streams
    * size `spark.sql.shuffle.partitions` to their STATE volume, because
    * each shuffle partition is its own state store (one delta file per
    * store per micro-batch). ~64 MiB of input per store, clamped to
    * [defaultParallelism/4, defaultParallelism]: the upper clamp keeps a
    * local battery from opening thousands of stores over tiny state; the
    * LOWER clamp keeps real join/agg work parallel when the state volume
    * is small — a measured r11 sweep over the five state gates (the
    * partition count forced to 1, 4, 8, 16 and 32 on local[32], sf0.1)
    * put 1 partition at 24.0 s total (stream-stream join serialized,
    * q118 7.7 s), 8 at 15.8 s (q118 3.5 s), 32 at 28.8 s (per-store
    * checkpoint overhead). On a real cluster the bytes/64 MiB term
    * dominates and the same rule saturates the executors. Input size =
    * the landed bytes under `inputPath` (driver metadata read, no data
    * I/O). */
  def stateSizedPartitions(spark: SparkSession, inputPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(inputPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      try fs.getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    val target = 64L * 1024 * 1024
    val cores = spark.sparkContext.defaultParallelism.toLong
    val floor = math.max(1L, cores / 4)
    math.max(floor, math.min(cores, (bytes + target - 1) / target)).toInt
  }

  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
