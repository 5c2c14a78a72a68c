package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one way the engine drains a finite stream: a `Trigger.AvailableNow`
  * query (the restatement of the reference's `schedule="@daily",
  * catchup=False` run, reference dags/etl.py:12-13) started on a checkpoint
  * and waited for. The checkpoint is always the caller's: it is the
  * resume token a later drain continues from, and callers that take a
  * lease name it as the lease owner. [[batches]] and [[sink]] return the
  * terminated query, so `recentProgress` can be read after the drain.
  * `options` are writer options; a source option such as
  * `maxFilesPerTrigger` slices the input only on the caller's
  * `readStream`.
  *
  * Two set-up rules the stream gates share:
  *  - Stateful streams size `spark.sql.shuffle.partitions` to their state,
  *    through [[scope]]: each shuffle partition is its own state store
  *    with one delta file per micro-batch (a join has two), and a stream
  *    pins its partitioning when its checkpoint is created, so this is
  *    also the knob a real deployment sets per stream.
  *    [[graft.util.Confs.stateSizedPartitions]] is the measured rule.
  *  - A gate whose answer is read from the checkpoint's state store (the
  *    `statestore` source) drains into the `noop` sink: nothing reads the
  *    emitted rows, and writing them to parquet was pure sink cost. */
object Drain {

  /** Run `f` on each micro-batch (`foreachBatch`) with its batch id. */
  def batches(stream: DataFrame, checkpoint: String, options: (String, String)*)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    run(stream.writeStream.foreachBatch(f), checkpoint, options)

  /** Drain into a format sink (`noop`, `parquet`, `graft-jsonl`,
    * `graft-snapshot`); a sink path goes in as the `path` option. */
  def sink(stream: DataFrame, checkpoint: String, format: String, outputMode: String,
           options: (String, String)*): StreamingQuery =
    run(stream.writeStream.format(format).outputMode(outputMode), checkpoint, options)

  /** A temp dir for one gate's landing, sink and checkpoint trees, deleted
    * when `body` ends or throws; with `partitions`, the session's
    * `spark.sql.shuffle.partitions` holds that value inside `body` and
    * its previous value after. */
  def scope[A](spark: SparkSession, prefix: String, partitions: Option[Int] = None)(
      body: java.io.File => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try graft.util.Confs.withConfs(spark,
      partitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq: _*)(body(tmp))
    finally graft.util.Fs.deleteTree(tmp)
  }

  /** Drain into the in-memory table `queryName` and return it. It keeps
    * the default trigger with `processAllAvailable`, and no checkpoint:
    * the memory-sink forms are batch/stream equivalence checks that
    * nothing resumes. */
  private[streaming] def toMemory(stream: DataFrame, outputMode: String,
                                  queryName: String): DataFrame = {
    val q = stream.writeStream.outputMode(outputMode)
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    stream.sparkSession.table(queryName)
  }

  private def run(writer: DataStreamWriter[Row], checkpoint: String,
                  options: Seq[(String, String)]): StreamingQuery = {
    val q = writer.options(options.toMap)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
