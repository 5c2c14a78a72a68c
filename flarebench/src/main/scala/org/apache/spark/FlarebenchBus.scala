package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * counters a traced span samples at its boundary include its own jobs.
  * The bus's drain is package-private to Spark, hence this file's package. */
object FlarebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
