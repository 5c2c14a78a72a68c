package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Runs on the
  * session [[Bench]] times (same SPARK_GRAFT_CPUS default and
  * SPARK_GRAFT_ONLY subset), so the checked configuration is the timed
  * one. Exits 1 if any query threw, after every other output and
  * oracle_sql.json are written: a failed query must fail the run, not
  * drop out of the compare's count. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter { case (name, _) => Bench.selected(name) }
      .flatMap { case (name, fn) =>
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // drop localCheckpoint blocks leaked by dedup pipelines (see Bench)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      failure
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => Bench.selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
        s"failed: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
