package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Which files a query reads, from its executed plan's scan nodes. Plan
  * gates of the form "answered from the view, never the base table" must
  * match on these paths, not on `executedPlan.toString`: Spark abbreviates
  * a scan's `Location` to `spark.sql.maxMetadataStringLength` characters,
  * so under a long temp directory a positive check fails spuriously and a
  * negative one passes vacuously. Only v1 file scans are collected (every
  * gated table is parquet, which reads through v1); a gate that switched
  * to a DSv2 file source would fail its positive check, not pass. */
object ScanPaths extends AdaptiveSparkPlanHelper {

  /** Root paths of every file scan in `df`'s executed plan, including
    * adaptive query stages and subqueries. */
  def rootPaths(df: DataFrame): Seq[Path] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths
    }.flatten

  /** True iff some file scan of `df` reads under a path component named
    * exactly `name` (a table directory such as `lineitem.parquet`). */
  def reads(df: DataFrame, name: String): Boolean =
    rootPaths(df).exists(p =>
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null).exists(_.getName == name))
}
