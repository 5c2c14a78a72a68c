package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench tooling: derive a `factor`×-scaled corpus from a driver-generated
  * SF directory, for the scale-TREND table in BASELINE.md (sf0.1 → sf1
  * wall-time ratios of the most expensive queries). Correctness queries
  * never read this data — the driver's parquet stays the only scored
  * input; this exists because the environment ships no sf1 tables and no
  * egress to generate one.
  *
  * Each copy i is a DISJOINT, EQUAL-DIFFICULTY shard of the original:
  *   - documents: ids shift by i×range; every token is prefixed with a
  *     copy tag (`c3x…`), so cross-copy similarity is exactly zero — the
  *     dedup miners face 10 independent sf0.1-hard problems, not one
  *     corpus of 10-way near-duplicates whose TRUE pair count (the
  *     output itself) would grow quadratically and mask the engine's own
  *     scaling;
  *   - events: event ids and user ids shift (per-user density, and thus
  *     join/session state per key, stays constant — volume scales, skew
  *     does not);
  *   - lineitem/orders: order keys shift together (join fan-out per key
  *     constant).
  *
  * Usage: ScaleData <srcSfDir> <outDir> <factor> [tablesCsv]
  * (tablesCsv — e.g. "embeddings" — derives only those tables; default
  * all, for targeted high-factor derivations like the similarity-family
  * 100× run where deriving the full relational set would be waste)
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val (src, out, factorS) = (args(0), args(1), args(2))
    val factor = factorS.toInt
    val wanted: String => Boolean =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else _ => true
    val spark = Bench.session()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)

    // the driver's tables are single parquet FILES (readEvents globs for
    // `events.parquet` by name), so each derived table is written to a
    // sibling dir and its one part file renamed into place
    def writeAs(df: DataFrame, table: String): Unit = {
      val tmp = s"$out/__$table"
      df.coalesce(1).write.parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $table"))
      if (!fs.rename(part, new org.apache.hadoop.fs.Path(s"$out/$table.parquet")))
        throw new java.io.IOException(s"rename failed for $table")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }

    if (wanted("documents")) {
    val docs = Tables.t(spark, src, "documents")
    val docRange = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    writeAs(copies(docs) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * docRange))
        .withColumn("text",
          concat(lit(s"c${i}x"),
            regexp_replace(col("text"), " ", s" c${i}x")))
        // the corpus invariant n_chars = length(text) must survive the
        // tagging, or length-sensitive operators run over self-
        // inconsistent metadata in the derived shards
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    }

    if (wanted("events")) {
    val ev = Tables.t(spark, src, "events")
    val evMaxes = ev.agg(max(col("event_id")), max(col("user_id"))).head()
    val evRange = evMaxes.getLong(0) + 1
    val userRange = evMaxes.getLong(1) + 1
    writeAs(copies(ev) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * evRange))
        .withColumn("user_id", col("user_id") + lit(i * userRange))
    }, "events")
    }

    if (wanted("lineitem") || wanted("orders")) {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val okRange = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    writeAs(copies(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okRange))), "lineitem")
    writeAs(copies(ord)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okRange))), "orders")
    }

    // embeddings: ids shift; each copy's vectors go through a per-copy
    // deterministic sign-flip (dimension d flips iff bit d of a copy-seeded
    // hash is set). A sign-flip matrix is orthogonal and applied to BOTH
    // sides of every within-copy pair, so within-copy cosines — and thus
    // near-dup structure, cell populations, probe difficulty — are
    // IDENTICAL to the original shard, while cross-copy similarity is
    // uncorrelated background: 10 independent sf0.1-hard problems, the
    // same disjoint-shard invariant as the documents tagging above.
    if (wanted("embeddings")) {
    val em = spark.read.parquet(s"$src/embeddings.parquet")
    val emRange = em.agg(max(col("vec_id"))).head().getLong(0) + 1
    writeAs(copies(em) { (d, i) =>
      if (i == 0) d
      else d.withColumn("vec_id", col("vec_id") + lit(i.toLong * emRange))
        .withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> " +
            s"if(((hash($i, j) % 2) + 2) % 2 = 1, -x, x))"))
    }, "embeddings")
    }

    println(s"derived factor=$factor corpus at $out from $src")
    spark.stop()
  }
}
