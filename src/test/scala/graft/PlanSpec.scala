package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.queries.{Extended, Relational}
import graft.util.ScanPaths

/** Physical-plan assertions (SURVEY.md: "the plan you'd want, not the first
  * one that passed"). These lock in the scale-critical plan properties so a
  * refactor that silently loses pushdown or a broadcast fails CI. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q4: filter and projection are pushed into the parquet scan") {
    val plan = planOf(Relational.q4FilterProject(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"predicate must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double"),
      s"scan must read only the 4 projected columns + filter column:\n$plan")
  }

  test("q7: all dimension joins are broadcast (fact table shuffles at most once)") {
    val plan = planOf(Relational.q7MultiJoin(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"customer/nation/region must broadcast:\n$plan")
  }

  test("q12: global sort+limit plans as TakeOrderedAndProject (no full sort)") {
    val plan = planOf(Relational.q12SortLimit(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("q41: unpivot lowers to Expand — no exchange beyond the aggregation's") {
    val plan = planOf(Relational.q41Unpivot(spark, sf))
    assert(plan.contains("Expand"), s"unpivot should plan as Expand:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected only the groupBy's exchange, found $hashEx:\n$plan")
  }

  test("q42: recursion executes as UnionLoop inside the engine; spine join broadcasts") {
    val plan = planOf(Relational.q42RecursiveSpine(spark, sf))
    assert(plan.contains("UnionLoop"),
      s"recursive CTE should run as the engine's UnionLoop, not driver code:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=80-row spine/aggregate join must broadcast:\n$plan")
  }

  test("q39: full outer join reuses the aggregates' partitioning (no extra exchange)") {
    val plan = planOf(Relational.q39FullOuter(spark, sf))
    assert(plan.contains("FullOuter"), s"expected full outer join:\n$plan")
    // two aggregation exchanges on o_custkey; the join itself must add none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"join should ride the aggs' custkey partitioning, found $exchanges exchanges:\n$plan")
  }

  test("q18: semi join stays a join (no row explosion)") {
    val plan = planOf(Extended.q18SemiJoin(spark, sf))
    assert(plan.contains("LeftSemi"), s"expected semi join:\n$plan")
  }

  test("x48: rebalance exchanges carry only aggregated frames (corpus never shuffles)") {
    val plan = planOf(graft.queries.CorpusQueries.x48RebalanceSample(spark, sf))
    // every hash exchange sits above a partial aggregate (map-side
    // combine), so the data crossing any exchange is |langs|-sized; the
    // corpus itself reaches the selection via the broadcast of the rates
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected only the two agg exchanges:\n$plan")
    assert("partial_".r.findAllIn(plan).size >= 2,
      s"both aggs must have map-side partials:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the per-lang rates must broadcast back:\n$plan")
  }

  test("cosine_units participates in whole-stage codegen") {
    graft.functions.CosineUnits.register(spark)
    val df = Tables.t(spark, sf, "embeddings").limit(10)
      .selectExpr("cosine_units(embedding, embedding) AS c")
    val plan = planOf(df)
    // executedPlan.toString renders a WholeStageCodegen stage as "*(id)"
    assert(plan.contains("*(1) Project [cosineunits"),
      s"expected the expression inside a codegen stage:\n$plan")
    // and it must agree with the interpreted composable formulation
    val fused = df.collect().map(_.getDouble(0))
    val interp = Tables.t(spark, sf, "embeddings").limit(10).selectExpr(
      """cast(aggregate(zip_with(embedding, embedding, (x, y) ->
        |cast(floor(cast(x as double) * cast(y as double) * 1e9) as bigint)),
        |cast(0 as bigint), (acc, v) -> acc + v) as double) /
        |sqrt(cast(aggregate(zip_with(embedding, embedding, (x, y) ->
        |cast(floor(cast(x as double) * cast(y as double) * 1e9) as bigint)),
        |cast(0 as bigint), (acc, v) -> acc + v) as double) *
        |cast(aggregate(zip_with(embedding, embedding, (x, y) ->
        |cast(floor(cast(x as double) * cast(y as double) * 1e9) as bigint)),
        |cast(0 as bigint), (acc, v) -> acc + v) as double))""".stripMargin.replace("\n", " "))
      .collect().map(_.getDouble(0))
    assert(fused.toSeq == interp.toSeq, "fused expression must be bit-identical to composable form")
  }

  /** The executed plans (AQE's final ones) of every action `body` runs,
    * eager checkpoints included. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** Every operator of `plan`, paired with whether it runs inside a
    * whole-stage codegen stage (an `*(n)` in the plan text). */
  private def inCodegen(plan: SparkPlan, in: Boolean = false): Seq[(SparkPlan, Boolean)] =
    plan match {
      case a: AdaptiveSparkPlanExec => inCodegen(a.executedPlan)
      case q: QueryStageExec => inCodegen(q.plan)
      case w: WholeStageCodegenExec => inCodegen(w.child, in = true)
      case i: InputAdapter => inCodegen(i.child)
      case p => (p, in) +: p.children.flatMap(inCodegen(_, in))
    }

  private def aggsOutsideCodegen(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(inCodegen(_)).collect {
      case (a: HashAggregateExec, false) => s"${a.output.size} fields: ${a.simpleString(100)}"
    }

  test("MinHash band rows are row-local: no exchange or aggregate between the documents scan and the bands") {
    import org.apache.spark.sql.functions.col
    val bands = graft.operators.TextDedup.bandRows(Tables.t(spark, sf, "documents"),
      graft.functions.TextFns.tokenSet(col("text")), col("doc_id"))
    val nodes = inCodegen(bands.queryExecution.executedPlan)
    val plan = planOf(bands)
    assert(!nodes.exists(_._1.isInstanceOf[Exchange]), s"no exchange before the bands:\n$plan")
    assert(!nodes.exists(_._1.isInstanceOf[BaseAggregateExec]), s"no aggregate before the bands:\n$plan")
    assert(nodes.exists {
      case (g: GenerateExec, true) => g.generator.toString.contains("minhash_bands")
      case _ => false
    }, s"the band explode must run inside whole-stage codegen:\n$plan")
    assert(bands.count() == 500L * graft.functions.MinHashBands.NumBands)
  }

  test("MinHash pipelines, simhash and SRP keep every hash aggregate inside whole-stage codegen") {
    // An operator whose output has more than spark.sql.codegen.maxFields
    // (100) fields silently leaves whole-stage codegen: the 256-min-column
    // signature aggregate the MinHash kernel replaced did. simhash's
    // signature agg has 62 output fields and SRP's plane-dot agg 49.
    import org.apache.spark.sql.functions.col
    val d = Tables.t(spark, sf, "documents").filter(col("doc_id") < 200)
    val e = Tables.t(spark, sf, "embeddings")
    val runs = Seq(
      "minhashNearDups" -> (() => graft.operators.TextDedup.minhashNearDups(d, 0.9).collect()),
      "minhashNearDupsUnbounded" ->
        (() => graft.operators.TextDedup.minhashNearDupsUnbounded(d, 0.9).collect()),
      "simhashSignatures" -> (() => graft.operators.TextDedup.simhashSignatures(d).collect()),
      "srpBandedNearDups" -> (() => Similarity.srpBandedNearDups(e, 0.4).collect()))
    for ((name, run) <- runs) {
      val plans = executedPlans(run())
      assert(plans.nonEmpty, s"$name ran no captured action")
      val outside = aggsOutsideCodegen(plans)
      assert(outside.isEmpty, s"$name: hash aggregates outside codegen:\n${outside.mkString("\n")}")
    }
    // the guard detects the fallback: a 257-field aggregate is outside codegen
    val wide = d.groupBy(col("doc_id")).agg(org.apache.spark.sql.functions.min(col("doc_id")),
      (1 until 256).map(i => org.apache.spark.sql.functions.min(col("doc_id") + i)): _*)
    assert(aggsOutsideCodegen(executedPlans(wide.collect())).nonEmpty)
  }

  test("q19 as-of join: shuffle is on the equi key, not a cartesian product") {
    val plan = planOf(Extended.q19AsofJoin(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must keep the equi-join shape:\n$plan")
  }

  test("q24 interval join: range predicate rides the equi join, no nested loop") {
    val plan = planOf(Extended.q24IntervalJoin(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must keep the equi-join shape:\n$plan")
  }

  test("q27 pivot: explicit value list keeps a single aggregation pass (no value-discovery job)") {
    val plan = planOf(Relational.q27Pivot(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).size <= 4, // partial+final, one layer
      s"pivot with explicit values must not add extra agg layers:\n$plan")
  }

  test("x39 packChunks: prefix sum is hierarchical — range exchange, no per-language single-task window") {
    val plan = planOf(
      graft.operators.Curation.packChunks(Tables.t(spark, sf, "documents"), 256))
    // the parallel external sort's range exchange now executes inside the
    // PINNED ranged stage (partition labels frozen for both consumers —
    // see the localCheckpoint comment at the site); the visible plan
    // starts from the materialized partitions
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the pinned ranged stage:\n$plan")
    // every window that sorts by the packing order (n_tok DESC) must also be
    // partitioned by the range id — a window partitioned by lang alone would
    // serialize each language into one task at scale
    val windows = "windowspecdefinition\\([^)]*\\)".r.findAllIn(plan).toList
    val packing = windows.filter(w => w.contains("n_tok") && w.contains("DESC"))
    assert(packing.nonEmpty, s"expected the local prefix-sum window:\n$plan")
    assert(packing.forall(_.contains("rng")),
      s"prefix-sum window must be keyed by (rng, lang), never lang alone:\n$packing")
  }

  test("q53: HLL sketches build with a map-side partial; nation joins broadcast") {
    val plan = planOf(Relational.q53HllUnion(spark, sf))
    assert(plan.contains("partial_hllsketchagg") || plan.contains("partial_"),
      s"sketch build must combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 25-row nation table must broadcast:\n$plan")
  }

  test("q55: gap-fill aggregation combines map-side; windows are keyed per type") {
    val plan = planOf(graft.queries.EventTime.q55GapFill(spark, sf))
    assert("partial_".r.findAllIn(plan).size >= 1,
      s"the hourly agg must have a map-side partial (events never shuffle raw):\n$plan")
    assert(plan.contains("windowspecdefinition(event_type"),
      s"fill windows must partition by event_type:\n$plan")
  }

  test("x65: frame sampling is shuffle-free up to the presentation sort") {
    val plan = planOf(graft.queries.TrainingData.x65FrameSample(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"frame extraction must not shuffle (pure column ops):\n$plan")
  }

  test("x67: each ladder level is computed once (checkpointed), final agg is the only exchange") {
    // the per-level broadcast join happens upstream of each eager
    // localCheckpoint (same broadcast-probe shape PlanSpec pins for x38's
    // operator); the final frame must read the three checkpointed match
    // lists — never recompute them — and add only the max-agg exchange
    val plan = planOf(graft.queries.TrainingData.x67DeconSpan(spark, sf))
    assert("Scan ExistingRDD".r.findAllIn(plan).size == 3,
      s"expected the 3 checkpointed level outputs:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"only the groupBy(max) may shuffle:\n$plan")
  }

  test("q56: latest-wins merge is a partial+final max_by agg, never a window sort") {
    val plan = planOf(graft.queries.ChangeData.q56CdcMerge(spark, sf))
    assert(plan.contains("partial_max_by"),
      s"latest-wins must combine map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"CDC merge must not fall back to the row_number window form:\n$plan")
  }

  test("q58: sweep running sum is keyed by (rng, event_type), never type alone") {
    val plan = planOf(graft.queries.ChangeData.q58SweepConcurrency(spark, sf))
    assert(plan.contains("windowspecdefinition(rng"),
      s"running sum must be range-partitioned (the x39 rule):\n$plan")
    // the only type-alone window allowed is the offsets cumulation, which
    // runs on the (rng, type) TOTALS — one row per range — and whose result
    // joins back by broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets must broadcast back to the point set:\n$plan")
  }

  test("q59: the corpus-sized op is one partial+final count; the window runs on the value domain") {
    val plan = planOf(graft.queries.ChangeData.q59ExactMedian(spark, sf))
    assert(plan.contains("partial_count"),
      s"the (type, value) count must combine map-side:\n$plan")
  }

  test("q61: z-order audit is a pure projection plus one hash-agg exchange") {
    val plan = planOf(Relational.q61ZOrder(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"only the bucket agg may hash-shuffle (the Morton code is a projection):\n$plan")
    // the bit spread must be plain integer arithmetic — no higher-order
    // array function (those don't join whole-stage codegen)
    assert(!plan.contains("lambdafunction") && !plan.contains("UDF"),
      s"the Morton code must be codegen-able arithmetic:\n$plan")
  }

  test("q61: the bit-spread Morton code equals the per-bit fold") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = graft.Tables.t(spark, sf, "lineitem")
      .select(expr("l_partkey & 65535").as("p"),
              expr("cast(l_suppkey as bigint) & 65535").as("s"))
      .withColumn("ps", expr("(p | shiftleft(p, 8)) & 16711935"))
      .withColumn("ps", expr("(ps | shiftleft(ps, 4)) & 252645135"))
      .withColumn("ps", expr("(ps | shiftleft(ps, 2)) & 858993459"))
      .withColumn("ps", expr("(ps | shiftleft(ps, 1)) & 1431655765"))
      .withColumn("ss", expr("(s | shiftleft(s, 8)) & 16711935"))
      .withColumn("ss", expr("(ss | shiftleft(ss, 4)) & 252645135"))
      .withColumn("ss", expr("(ss | shiftleft(ss, 2)) & 858993459"))
      .withColumn("ss", expr("(ss | shiftleft(ss, 1)) & 1431655765"))
      .withColumn("z_spread", expr("ps + shiftleft(ss, 1)"))
      .withColumn("z_fold", expr(
        """aggregate(sequence(0, 15), 0L,
          |  (acc, i) -> acc + shiftleft(shiftright(p, i) & 1L, 2*i)
          |             + shiftleft(shiftright(s, i) & 1L, 2*i + 1))""".stripMargin))
      .filter(col("z_spread") =!= col("z_fold"))
    assert(rows.count() == 0, "bit spread must equal the per-bit fold")
  }

  test("runtime bloom filter: a selective dim filter is pushed to the fact side as a bloom probe") {
    // The 100 TB shuffle-join shape: when the dim side is too big to
    // broadcast, Spark can still build a bloom filter from the filtered dim
    // keys and apply it on the fact scan, cutting the fact side's shuffle
    // volume before the exchange. Thresholds here only simulate "fact is
    // huge, dim is filtered" at test scale — the optimization itself is
    // what this pins down.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
    try {
      val o = Tables.t(spark, sf, "orders").filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.t(spark, sf, "lineitem")
      val q = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected an injected runtime bloom filter:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("x68 shardAssign: global rank is hierarchical — range exchange, rank windows keyed by rng") {
    val plan = planOf(graft.operators.Curation.shardAssign(
      Tables.t(spark, sf, "documents"), 16))
    // the range exchange AND the per-range rank window now execute inside
    // Ranks.globalRank's pinned stage (labels frozen for both consumers);
    // the visible plan starts from the materialized partitions, and the
    // law here is that nothing downstream re-sorts the corpus globally
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the pinned rank stage:\n$plan")
    val windows = "windowspecdefinition\\([^)]*\\)".r.findAllIn(plan).toList
    val ranking = windows.filter(w => w.contains("n_tok") && w.contains("DESC"))
    assert(ranking.forall(_.contains("rng")),
      s"any visible rank window must be keyed by rng:\n$windows")
  }

  test("x69 cluster keep: the keep decision is one max_by aggregate, no window anywhere") {
    val plan = planOf(graft.queries.LlmData.x69ClusterKeep(spark, sf))
    assert(plan.contains("max_by"),
      s"expected the max_by keep aggregate:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"the keep path must not sort cluster members in a window:\n$plan")
  }

  test("x75 hardNegatives: anchors broadcast — the corpus never shuffles before the top-k") {
    val e = Tables.t(spark, sf, "embeddings")
    val plan = planOf(Similarity.hardNegatives(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 5), e, 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"anchor side must broadcast:\n$plan")
    // the ONLY exchange is the final top-k merge, and the Partial
    // WindowGroupLimit below it bounds what shuffles to ≤k rows per
    // (probe, map partition) — the corpus itself never moves
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"only the bounded top-k merge may shuffle:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).size == 2,
      s"expected partial+final rank limits so the shuffle input is bounded:\n$plan")
  }

  test("x77 lengthBuckets: one partial+final agg on the tiny bucket key, no join, no window") {
    val plan = planOf(graft.operators.Curation.lengthBuckets(
      Tables.t(spark, sf, "documents"), 64))
    assert("HashAggregate".r.findAllIn(plan).size == 2,
      s"expected exactly partial+final aggregation:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("windowspecdefinition"),
      s"the audit must be a pure projection + agg:\n$plan")
  }

  test("x80 curationFunnel: dedup keys on the fixed-width hash; report joins only per-source aggregates") {
    val plan = planOf(graft.operators.Curation.curationFunnel(
      Tables.t(spark, sf, "documents")))
    assert(plan.contains("sha2"), s"dedup must key on the content hash:\n$plan")
    // every join in the report tail is a broadcast of a per-source aggregate
    // or the keeper-id / quota semi-equi joins — never a shuffled cartesian
    assert(!plan.contains("CartesianProduct"), s"no cartesian anywhere:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"the #sources-sized report frames must broadcast:\n$plan")
  }

  test("x81 mixturePlan: corpus read once into one agg; the total joins as a single-row broadcast") {
    val plan = planOf(graft.operators.Curation.mixturePlan(
      Tables.t(spark, sf, "documents")))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the single-row total must broadcast:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size <= 2,
      s"the corpus must not be re-read per stage:\n$plan")
  }

  test("q78 equiDepth: rank is hierarchical — range exchange, corpus window keyed by rng") {
    val plan = planOf(graft.queries.ChangeData.q78EquiDepth(spark, sf))
    assert(plan.contains("rangepartitioning"),
      s"expected a range exchange on the sort key:\n$plan")
    val windows = "windowspecdefinition\\([^)]*\\)".r.findAllIn(plan).toList
    val corpusW = windows.filter(_.contains("v#"))
    assert(corpusW.forall(_.contains("rng")),
      s"the corpus-sized rank window must be keyed by rng:\n$windows")
  }

  test("q79 kmv: the bottom-k is a WindowGroupLimit — only ≤k rows per group cross the final exchange") {
    val e = Tables.t(spark, sf, "events")
    val plan = planOf(graft.operators.Kmv.sketch(
      e, org.apache.spark.sql.functions.col("event_type"),
      org.apache.spark.sql.functions.col("user_id"), 32))
    assert("WindowGroupLimit".r.findAllIn(plan).size == 2,
      s"expected partial+final bottom-k limits:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the distinct must be a map-side-combinable agg:\n$plan")
  }

  test("x85 deconExcise: probe shingle set broadcasts — corpus shingles never sort-merge on the string key") {
    import org.apache.spark.sql.functions.col
    val d = Tables.t(spark, sf, "documents")
    val plan = planOf(graft.operators.Curation.deconExcise(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0), 8))
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe side must broadcast into the shingle match:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-wide exchange on the shingle string key:\n$plan")
  }

  test("LSH family: no hard-coded broadcast on pair-shaped or corpus-sized frames") {
    // The 100 TB law. Verified near-dup pairs are O(true pairs) — 1e8–1e9
    // rows on a crawl — and rep/size/member maps are O(distinct docs):
    // neither may carry a broadcast HINT (hints override every size check).
    // With both broadcast thresholds forced to -1, any surviving
    // BroadcastExchange in the plan can only come from a hint — so the law
    // is: zero. At real run time AQE's size-measured conversion still
    // broadcasts these joins when the frames are genuinely small, which is
    // the intended size-gated behavior.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
                   "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    keys.foreach(conf.set(_, "-1"))
    try {
      val d = Tables.t(spark, sf, "documents").filter(col("doc_id") < 120)
      val frames = Seq(
        "minhashNearDupsUnbounded" -> graft.operators.TextDedup.minhashNearDupsUnbounded(d, 0.8),
        "minhashNearDups"          -> graft.operators.TextDedup.minhashNearDups(d, 0.8),
        "ngramJaccardPairs"        -> graft.operators.TextDedup.ngramJaccardPairs(d, 3, 0.8),
        "ngramJaccardPairs(cap)"   -> graft.operators.TextDedup.ngramJaccardPairs(d, 3, 0.8, Some(4L)),
        "containmentPairs"         -> graft.operators.TextDedup.containmentPairs(d, 5, 0.9),
        "simhashNearDups"          -> graft.operators.TextDedup.simhashNearDups(d, 3))
      for ((name, df) <- frames) {
        val plan = planOf(df)
        assert(!plan.contains("BroadcastExchange"),
          s"$name must not hint-broadcast any unbounded frame:\n$plan")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q68: corpus-sized steps are hash aggs; the only window is post-aggregation, never per-user") {
    val plan = planOf(graft.queries.EventTime.q68RunningDistinct(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).size >= 4, // 2 aggs × partial+final
      s"first-seen and debut counts must be hash aggs:\n$plan")
    val windows = "windowspecdefinition\\([^)]*\\)".r.findAllIn(plan).toList
    assert(windows.nonEmpty && windows.forall(w =>
      w.contains("event_type") && !w.contains("user_id")),
      s"the cumulative window must run on the aggregated frame only:\n$windows")
  }

  test("ScanPaths sees scan roots past the plan string's truncation width") {
    // Spark abbreviates a scan's Location to spark.sql.maxMetadataStringLength
    // (100) characters; nest both tables under a longer directory so plan
    // text loses them, and the "served from the view" gates must not.
    val tmp = java.nio.file.Files.createTempDirectory("graft_scanpaths_").toFile
    try {
      val deep = new java.io.File(tmp, "d" * 120)
      val base = new java.io.File(deep, "base.parquet").getAbsolutePath
      val view = new java.io.File(deep, "base_view").getAbsolutePath
      spark.range(5).write.parquet(base)
      spark.range(3).write.parquet(view)
      val both = spark.read.parquet(view).union(spark.read.parquet(base))
      val plan = planOf(both)
      assert(!plan.contains("base_view") && !plan.contains("base.parquet"),
        s"the plan text was expected to truncate both paths:\n$plan")
      assert(ScanPaths.reads(both, "base_view"), "positive path must be seen")
      assert(ScanPaths.reads(both, "base.parquet"), "negative path must be seen")
      val viewOnly = spark.read.parquet(view)
      assert(ScanPaths.reads(viewOnly, "base_view"))
      assert(!ScanPaths.reads(viewOnly, "base.parquet"))
      assert(!ScanPaths.reads(viewOnly, "base"), "a name matches whole path components only")
    } finally graft.util.Fs.deleteTree(tmp)
  }
}
