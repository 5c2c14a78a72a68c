package flarebench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A fixed list of `SparkEntry` rows run in order, one round at a time.
  * Each row's full result is collected; the first round's results are
  * written out for the oracle compare, and every later round must give
  * the same result (same digest) as the first. */
final class Battery(val rows: Seq[String], sfDir: String, outDir: String) {
  require(rows.forall(SparkEntry.queries.contains),
    s"unknown rows: ${rows.filterNot(SparkEntry.queries.contains).mkString(",")}")
  private var firstDigest = Map.empty[String, String]

  private def digest(rs: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rs.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One round. Returns the number of rows that threw. */
  def round(spark: SparkSession, tr: Tracer, check: Check): Int =
    rows.count { name =>
      val t = System.nanoTime()
      val res =
        try {
          Right(tr.span(s"row.$name") {
            val df = SparkEntry.queries(name)(spark, sfDir)
            (df.schema, df.collect())
          })
        } catch { case e: Throwable => Left(e) }
      System.err.println(f"[flarebench] $name ${(System.nanoTime() - t) / 1e6}%.0f ms")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      res match {
        case Left(e) =>
          System.err.println(s"[flarebench] $name threw: $e")
          true
        case Right((schema, result)) =>
          val d = digest(result)
          firstDigest.get(name) match {
            case Some(first) =>
              check(s"$name: same result as the first round", d == first)
            case None =>
              firstDigest += name -> d
              spark.createDataFrame(result.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$outDir/$name")
          }
          false
      }
    }
}

/** `flarebench.OracleSql <outFile> <row>...`: writes each row's DuckDB
  * oracle SQL from `SparkEntry.oracleSql` as one JSON object, for the
  * expected-answer command. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = args.tail.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}")
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.head), json)
  }
}
