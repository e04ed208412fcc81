package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Analytics

/** Regression guards on the PHYSICAL PLANS of the headline queries — the
  * scale properties (pushdown, pruning, no cartesian products) that a
  * correctness gate cannot see. If a refactor silently un-pushes a filter
  * or degrades a join to a nested loop, these fail before any benchmark
  * notices. */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("analytics filters reach the parquet scans (PushedFilters)") {
    val checks = Seq(
      Analytics.q1Pricing(spark, sfDir) -> "LessThanOrEqual(l_shipdate",
      Analytics.q3Shipping(spark, sfDir) -> "EqualTo(c_mktsegment,BUILDING)",
      Analytics.q5RegionVolume(spark, sfDir) -> "EqualTo(r_name,ASIA)",
      Analytics.q7VolumeShipping(spark, sfDir) -> "GreaterThanOrEqual(l_shipdate",
      Analytics.q14PromoShare(spark, sfDir) -> "GreaterThanOrEqual(l_shipdate",
      Analytics.q4Priority(spark, sfDir) -> "EqualTo(l_returnflag,R)",
      Analytics.q10Returns(spark, sfDir) -> "GreaterThanOrEqual(o_orderdate"
    )
    checks.foreach { case (df, expected) =>
      assert(planString(df).contains(expected),
        s"expected pushed filter '$expected' missing from plan")
    }
  }

  test("lineitem scans are column-pruned (no full-width reads)") {
    val plan = planString(Analytics.q1Pricing(spark, sfDir))
    val readSchemas = "ReadSchema: struct<([^>]*)>?".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(readSchemas.nonEmpty)
    // q1 needs exactly 6 of lineitem's 16 columns
    assert(readSchemas.forall(_.split(",").length <= 6),
      s"scan reads too many columns: $readSchemas")
  }

  test("no cartesian product or nested-loop join in the analytics set") {
    val all = Seq(
      Analytics.q1Pricing(spark, sfDir),
      Analytics.q3Shipping(spark, sfDir),
      Analytics.q5RegionVolume(spark, sfDir),
      Analytics.q7VolumeShipping(spark, sfDir),
      Analytics.q18LargeOrders(spark, sfDir),
      Analytics.qTopCustomers(spark, sfDir),
      Analytics.q14PromoShare(spark, sfDir),
      Analytics.q4Priority(spark, sfDir),
      Analytics.q10Returns(spark, sfDir),
      Analytics.q21SoleBlame(spark, sfDir),
      Analytics.q16SupplierDiversity(spark, sfDir))
    all.foreach { df =>
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), "cartesian product in plan")
      assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
    }
  }

  test("q21/q16 plan as hash semi/anti joins, never correlated or looped") {
    val q21 = planString(Analytics.q21SoleBlame(spark, sfDir))
    assert(q21.contains("LeftSemi"), "q21 EXISTS must plan as a semi join")
    assert(q21.contains("LeftAnti"), "q21 NOT EXISTS must plan as an anti join")
    val q16 = planString(Analytics.q16SupplierDiversity(spark, sfDir))
    assert(q16.contains("LeftAnti"), "q16 NOT IN must plan as an anti join")
    assert(q16.contains("BroadcastHashJoin"),
      "q16's exclusion list and part dim must broadcast")
  }

  test("round-6 analytics: no cartesian products; scalar subqueries are " +
    "the only nested-loop broadcasts") {
    import graft.queries.Analytics2
    // pure join/agg shapes: no loop joins of any kind
    Seq(
      Analytics2.q2MinCostSupplier(spark, sfDir),
      Analytics2.q6ForecastRevenue(spark, sfDir),
      Analytics2.q8MarketShare(spark, sfDir),
      Analytics2.q9ProductProfit(spark, sfDir),
      Analytics2.q12PriorityLines(spark, sfDir),
      Analytics2.q13OrderDistribution(spark, sfDir),
      Analytics2.q17SmallQuantity(spark, sfDir),
      Analytics2.q19Disjunctive(spark, sfDir),
      Analytics2.q20ExcessSuppliers(spark, sfDir),
      Analytics2.qFunnel(spark, sfDir)).foreach { df =>
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$p")
    }
    // scalar-threshold shapes: the 1-row broadcast cross join is the
    // intended plan (same thing Catalyst emits for a scalar subquery);
    // anything beyond that single broadcast loop is a regression
    Seq(
      Analytics2.q11ImportantParts(spark, sfDir),
      Analytics2.q15TopSupplier(spark, sfDir),
      Analytics2.q22DormantCustomers(spark, sfDir)).foreach { df =>
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"more than the one scalar broadcast loop:\n$p")
    }
  }

  test("shingle/token pipelines shuffle hashed longs, never the strings") {
    val docs = Tables.documents(spark, sfDir)
    val plans = Seq(
      // dedupNgramJaccard materializes its result eagerly (checkpoint —
      // ADVICE r4), which leaves no exchanges in the returned frame's
      // plan; guard the exact lazy pipeline the direct path runs instead
      graft.llm.Dedup.jaccardPairs(
        graft.llm.Dedup.withShingleCount(graft.llm.Dedup.shingleHashes(docs)), 0.8),
      // dedupMinhash also materializes eagerly now — guard its lazy core
      graft.llm.Dedup.minhashPairs(
        graft.llm.Dedup.minhashSigs(graft.llm.Dedup.shingleHashes(docs)), 0.5),
      graft.llm.Dedup.simhashPairs(graft.llm.Dedup.simhashBlocks(
        graft.llm.Dedup.simhashSigs(graft.llm.Dedup.shingleHashes(docs))), 3),
      // containment rides the same inverted index and must not shuffle
      // strings either (textPerplexity materializes eagerly like
      // dedupNgramJaccard — its token-hash shape is textRarity's, which
      // stays lazy and guards it here)
      graft.llm.Dedup.containmentPairs(
        graft.llm.Dedup.withShingleCount(graft.llm.Dedup.shingleHashes(docs)), 0.9),
      graft.llm.TextOps.textRarity(docs)).map(planString)
    plans.foreach { p =>
      // every exchange key must be doc_id / sh_h / th / band-hash — a raw
      // `sh` shingle or `t` token string in a hashpartitioning means the
      // corpus text is shuffling
      val keys = "hashpartitioning\\(([a-zA-Z_0-9#]+)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(keys.nonEmpty)
      assert(!keys.exists(k => k.startsWith("sh#") || k.startsWith("t#")),
        s"shingle/token strings in a shuffle: $keys")
    }
  }

  test("text_boilerplate: anti join on the hash pair, partial-agg df, no loops") {
    val p = planString(
      graft.llm.SpanDedup.removeBoilerplate(Tables.documents(spark, sfDir)))
    assert(p.contains("LeftAnti"),
      "boilerplate flag-back must plan as an anti join")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), "loop join in plan")
    // the df count-distinct must collapse within-doc repeats map-side
    // before its exchange (partial aggregation on (h1, h2, doc_id))
    assert(p.contains("partial_count"),
      "df count must partial-aggregate before the shuffle")
    // join and shuffle keys are the 16-byte hash pair, never chunk text
    val keys = "hashpartitioning\\(([a-zA-Z_0-9#]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(keys.nonEmpty && !keys.exists(_.startsWith("chunk#")),
      s"chunk text on the shuffle wire: $keys")
  }

  test("text_gopher is one shuffle-free codegen'd projection of the scan") {
    val p = planString(
      graft.llm.TextOps.textGopher(Tables.documents(spark, sfDir)))
    // (the HOF-heavy projection is a plain Project — array filter/
    // aggregate lambdas are CodegenFallback — but it stays one map-side
    // pass; the scale properties are no-shuffle and pruning)
    assert(!p.contains("Exchange"), "gopher rules must not shuffle")
    // column pruning: only (doc_id, text) may be read
    val readSchemas = "ReadSchema: struct<([^>]*)>?".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(_.split(",").length <= 2),
      s"gopher scan reads more than (doc_id, text): $readSchemas")
  }

  test("embed_outliers: both stat frames broadcast back, no wide shuffle of vectors") {
    val p = planString(
      graft.llm.Ann.embedOutliers(Tables.embeddings(spark, sfDir)))
    // the only exchanges allowed are the two small aggs' (centroids,
    // per-label stats); the corpus-side joins must be broadcasts
    assert(p.contains("BroadcastHashJoin"), "stats must join back as broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "vector frame shuffled into a sort-merge join")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), "loop join in plan")
  }

  test("embed_whiten: one stats exchange, corpus never shuffles or loops") {
    val p = planString(
      graft.llm.Ann.embedWhiten(Tables.embeddings(spark, sfDir)))
    // the 1-row stats frame comes back as a broadcast cross join; the
    // corpus branch is scan → zip_with projection, exchange-free
    assert(p.contains("BroadcastExchange"), "stats must broadcast back")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled into a join")
    val exchanges = "ShuffleExchange|Exchange hashpartitioning|Exchange SinglePartition".r
      .findAllIn(p).size
    assert(exchanges <= 2, s"more exchanges than the stats agg needs:\n$p")
  }

  test("ann_filtered_topk: the label predicate turns the scoring join into a hash join") {
    val p = planString(graft.llm.Ann.annFilteredTopK(
      Tables.embeddings(spark, sfDir)))
    // annTopK's inequality-only join is a BroadcastNestedLoopJoin by
    // necessity; the filtered variant's label EQUALITY must give the
    // planner a hash key — pre-filtering at join time, not post-scoring
    assert(p.contains("BroadcastHashJoin"),
      "label equality not planned as a hash join:\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "filtered search fell back to the loop join")
  }

  test("merge snapshot read prunes partitions by bucket") {
    val sink = new graft.sinks.WarehouseSink(tmpDir("plan_merge_"))
    val flat = graft.cdc.Cdc.flatten(Tables.events(spark, sfDir))
    graft.cdc.MergePipeline.mergeBatch(spark, sink, "s", flat, Seq("user_id"))
    val pruned = sink.read(spark, "s")
      .filter(org.apache.spark.sql.functions.col("part_bucket").isin(1, 2, 3))
    assert(planString(pruned).contains("PartitionFilters: [part_bucket"),
      "bucket filter not applied as a partition filter")
  }

  test("MERGE over an existing table writes through exactly one shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    val sink = new graft.sinks.WarehouseSink(tmpDir("plan_merge_shuffle_"))
    val flat = graft.cdc.Cdc.flatten(Tables.events(spark, sfDir))
    val cutoff = org.apache.spark.sql.functions.lit("2024-01-15").cast("timestamp")
    // every node of a final adaptive plan: stages hold what they ran
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val writes = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.put(qe.executedPlan)
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      // the first write creates the table; the second is the MERGE
      graft.cdc.MergePipeline.mergeBatch(spark, sink, "s",
        flat.filter(col("ts") < cutoff), Seq("user_id"))
      assert(writes.poll(60, java.util.concurrent.TimeUnit.SECONDS) != null)
      graft.cdc.MergePipeline.mergeBatch(spark, sink, "s",
        flat.filter(col("ts") >= cutoff), Seq("user_id"))
      writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(plan != null, "no MERGE write plan observed")
    val shuffles = nodes(plan).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles === 1, s"MERGE write shuffles:\n$plan")
  }

  test("text_unicode_audit is a shuffle-free projection of a pruned scan") {
    val p = planString(
      graft.llm.TextOps.textUnicodeAudit(Tables.documents(spark, sfDir)))
    assert(!p.contains("Exchange"), "unicode audit must not shuffle")
    val readSchemas = "ReadSchema: struct<([^>]*)>?".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(_.split(",").length <= 2),
      s"audit scan reads more than (doc_id, text): $readSchemas")
  }

  test("filter_agreement and corpus_report: one aggregation, no wide shuffle") {
    import org.apache.spark.sql.functions._
    val fa = planString(graft.llm.TextOps.filterAgreementQ(spark, sfDir))
    // the only exchanges allowed are the single-partition collapse of
    // the 1-row counter aggregate — never a hashpartitioning of docs
    assert(!fa.contains("Exchange hashpartitioning"),
      s"filter_agreement shuffled the corpus:\n$fa")
    val cr = planString(graft.llm.TextOps.corpusReportQ(spark, sfDir))
    // corpus_report's count-distincts expand + re-aggregate: at most
    // the expand exchange and the final single-partition collapse —
    // hash/lang/source tuples on the wire, slim by construction
    val nEx = "Exchange".r.findAllMatchIn(cr).length
    assert(nEx <= 3, s"corpus_report grew extra exchanges ($nEx):\n$cr")
  }

  test("q_basket_pairs: within-order pair join is a hash/merge equi-join, never looped") {
    val p = planString(graft.queries.Analytics2.qBasketPairs(spark, sfDir))
    // the a.ok = b.ok equi-key carries the PAIR join; a.pk < b.pk is a
    // post-join condition — a raw pair predicate would nested-loop.
    // Exactly ONE BroadcastNestedLoopJoin is allowed: the 1-row order-
    // total crossJoin (the q11 scalar-broadcast convention).
    assert(!p.contains("CartesianProduct"), s"cartesian in basket:\n$p")
    val nLoops = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nLoops <= 1, s"basket pair generation planned loop joins:\n$p")
  }
}
