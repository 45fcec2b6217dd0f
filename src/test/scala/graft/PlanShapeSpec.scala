package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}

/** Plan-shape guards for the SURVEY §4 "free in Catalyst" claims: the
  * scale posture is enforced here, not hoped for — dimension joins must
  * broadcast, filters must reach the parquet scan, top-k must plan as
  * TakeOrderedAndProject (no global sort), partial aggregation must be
  * present, and the hot paths must stay in whole-stage codegen. */
class PlanShapeSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("contact/group enrichment joins broadcast the dimension side") {
    val q = SparkEntry.queries("q03_contact_enrich")(spark, sf)
    assert(physical(q).contains("BroadcastHashJoin"))
    val g = SparkEntry.queries("q04_group_enrich")(spark, sf)
    assert(physical(g).contains("BroadcastHashJoin"))
  }

  test("range scan pushes the timestamp filter into the parquet scan") {
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 49.0).select(col("l_orderkey"))
    val plan = physical(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"), plan)
  }

  test("projection prunes columns at the scan (ReadSchema is narrow)") {
    val q = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(q)
    val readSchema = plan.split("ReadSchema: ")(1)
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val q = SparkEntry.queries("q02_topk_orders")(spark, sf)
    assert(physical(q).contains("TakeOrderedAndProject"))
  }

  test("aggregation runs partial (map-side) before the shuffle") {
    val q = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    val plan = physical(q)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("pricing summary stays in whole-stage codegen") {
    // AQE wraps the plan until execution — use codegen explain mode,
    // which compiles the subtrees regardless.
    val q = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    val codegen = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
  }

  test("flagship entry produces rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("mergeIntervals: island groupBy adds NO exchange beyond the window's") {
    // the scaladoc claim: hash partitioning on the key (paid once for
    // the window) satisfies the clustered distribution on (key, island)
    import spark.implicits._
    val df = (0 until 200).map(i => (s"k${i % 5}", i.toLong, i.toLong + 10))
      .toDF("k", "s", "e").repartition(4)
    val q = graft.operators.Analytics.mergeIntervals(df, "k", "s", "e")
    val hashEx = "Exchange hashpartitioning".r
      .findAllIn(physical(q)).length
    // one for the repartition(4) input, one for the window's
    // partitionBy(k); the groupBy(k, island) must not add a third
    assert(hashEx <= 2, physical(q))
  }

  test("robustOutliers: per-group median/MAD frames broadcast back") {
    import spark.implicits._
    val df = (0 until 500).map(i => ("g" + i % 3, i.toLong, (i % 97).toDouble))
      .toDF("grp", "id", "v").repartition(4)
    val q = graft.operators.Analytics.robustOutliers(df, "grp", "id", "v")
    q.write.format("noop").mode("overwrite").save()
    assert(physical(q).contains("BroadcastHashJoin"), physical(q).take(2000))
  }

  test("q35 rag prompt plans with no window and a TakeOrderedAndProject top-k") {
    // the round-1 scale-killer: a global no-partition window that moved
    // the whole corpus to one partition. Now top-5 is a bounded
    // TakeOrderedAndProject and rank needs no WindowExec at all.
    val plan = physical(SparkEntry.queries("q35_rag_prompt")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q48 LSH near-dup candidate stage is an equi-join, not a cartesian") {
    // the candidate join must hash-partition on (band, sig); only the
    // declared-bounded q23 baseline may nested-loop
    val plan = physical(SparkEntry.queries("q48_neardup_lsh")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q48 LSH candidate join is late-materialized (no vector payload in shuffle)") {
    // same invariant q27 got in r4: only (band, sig, id) rides the
    // candidate equi-join — the distinct-pairs aggregate has bare
    // (id_a, id_b) keys and no first(__va)/first(__vb)/first(__n*)
    // vector payload multiplying the shuffle by nBands
    val plan = physical(SparkEntry.queries("q48_neardup_lsh")(spark, sf))
    assert(!plan.contains("first(__va") && !plan.contains("first(__vb"), plan)
    assert(!plan.contains("first(__na") && !plan.contains("first(__nb"), plan)
    assert("""keys=\[id_[ab]#\d+L?, id_[ab]#\d+L?\]""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("q27 ANN candidate join is late-materialized (narrow band join)") {
    // only (band, sig, id) flows through the candidate equi-join: the
    // distinct-pairs aggregate has bare (probe_id, neighbor_id) keys
    // and no first(__pvec)/first(__cvec) payload riding the buckets
    val plan = physical(SparkEntry.queries("q27_ann_lsh")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("first(__pvec") && !plan.contains("first(__cvec"), plan)
    assert("""keys=\[probe_id#\d+L?, neighbor_id#\d+L?\]""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("q40 centroid assignment plans without a window (min_by argmin)") {
    val plan = physical(SparkEntry.queries("q40_centroid_assign")(spark, sf))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("min_by") || plan.contains("partial_min_by"), plan)
  }

  test("parallelize-first queries keep map-side partial aggregation") {
    for (name <- Seq("q43_cube", "q09_rollup")) {
      val plan = physical(SparkEntry.queries(name)(spark, sf))
      assert(plan.contains("partial_"), s"$name lost partial agg:\n$plan")
    }
  }

  test("q41 quantiles: group totals aggregate partially; rank window stays partitioned") {
    // q41 ranks raw rows: the cumulative-rank window must be
    // partitioned by the group column (a global orderBy window would
    // serialize every row through one task), and the broadcast group
    // totals must combine map-side before their shuffle
    val plan = physical(SparkEntry.queries("q41_quantiles")(spark, sf))
    val partials = plan.split("\n").filter(_.contains("partial_"))
    assert(partials.exists(_.contains("partial_sum")) &&
      partials.forall(_.contains("l_returnflag")),
      s"q41 group totals lost partial agg:\n$plan")
    val windows = plan.split("\n").filter(_.contains("Window"))
      .filterNot(_.contains("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("l_returnflag")),
      s"q41 window not partitioned by the group column:\n${windows.mkString("\n")}")
  }

  test("q95 packing: prefix-scan window is partitioned; digest aggregates partially") {
    // the textbook failure here is a global Window.orderBy (single
    // partition for the whole token stream) — the two-phase prefix
    // scan must keep every window PARTITIONED by the range bucket
    val plan = physical(SparkEntry.queries("q95_packed_sequences")(spark, sf))
    val windows = plan.split("\n").filter(_.contains("Window"))
      .filterNot(_.contains("WindowGroupLimit"))
    assert(windows.forall(_.contains("__pid")),
      s"q95 window not partitioned by the range bucket:\n${windows.mkString("\n")}")
    assert(plan.contains("partial_"), s"q95 lost partial agg:\n$plan")
  }

  test("as-of joins never plan an UNBOUNDED FOLLOWING frame") {
    // Spark's UnboundedFollowingWindowFunctionFrame re-evaluates the
    // aggregate from scratch per row — quadratic in the partition
    // (m30z Zipf key: 15-19 s single-task straggler before the
    // reversed-sort rewrite, 0.87 s after). Every running-forward scan
    // has a bit-identical reversed form over the incremental preceding
    // frame; this pins that no refactor reintroduces the hazard.
    for (name <- Seq("q136_asof_forward", "q137_asof_nearest", "q39_asof_join")) {
      val plan = physical(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("UNBOUNDED FOLLOWING"),
        s"$name plans a quadratic following frame:\n" +
          plan.split("\n").filter(_.contains("Window")).mkString("\n"))
    }
  }

  test("changePoint windows are fixed frames on ONE key exchange; " +
      "conversionLag plans with no window at all") {
    // q156's windows (ordered prefix sum + full-partition totals) must
    // all be PARTITIONED BY the key (never a global "No Partition
    // Defined" window), and the whole plan re-shuffles only on that
    // key: one exchange for the shared window stage, one each for the
    // argmax aggregate and its merge rejoin — all hashpartitioning on
    // event_type, nothing else
    val cp = physical(SparkEntry.queries("q156_change_point")(spark, sf))
    val windows = cp.split("\n").filter(_.contains("Window"))
      .filterNot(_.contains("WindowGroupLimit"))
    assert(windows.nonEmpty && windows.forall(_.contains("event_type")),
      s"q156 window not partitioned by the key:\n${windows.mkString("\n")}")
    val hashEx = cp.split("\n")
      .filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.forall(_.contains("event_type")),
      s"q156 shuffles on something other than the key:\n" +
        hashEx.mkString("\n"))
    // funnel latency is aggregates + joins only — a per-user window
    // over the event stream would be the hot-user straggler shape
    val cl = physical(SparkEntry.queries("q160_conversion_lag")(spark, sf))
    assert(!cl.contains("Window"), s"q160 grew a window:\n$cl")
    assert(cl.contains("partial_min") || cl.contains("partial_"),
      s"q160 lost map-side combine:\n$cl")
  }

  /** Every node of `df`'s initial physical plan, subqueries included. */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectWithSubqueries { case n => n }

  test("quantile family keeps its Exchange and Sort counts on the rank kernel") {
    // (exchanges, sorts) of each consumer's initial physical plan,
    // recorded before the family shared `Analytics.rankRange`: the
    // kernel may not add a shuffle, broadcast or sort to any of them
    val recorded = Map(
      "q41_quantiles" -> ((9, 3)), "q116_hdr_quantiles" -> ((8, 2)),
      "q124_robust_outliers" -> ((17, 7)),
      "q174_weighted_quantiles" -> ((4, 2)),
      "q177_stratified_exact" -> ((8, 2)), "q184_spearman" -> ((10, 7)))
    val got = recorded.keys.map { q =>
      val nodes = planNodes(SparkEntry.queries(q)(spark, sf))
      q -> ((nodes.count(_.isInstanceOf[Exchange]),
        nodes.count(_.isInstanceOf[SortExec])))
    }.toMap
    assert(got === recorded)
  }

  test("near-dup pair family keeps its plan counts on the shared-key kernel") {
    // (exchanges, sorts, broadcast exchanges) of each consumer's initial
    // physical plan on `Dedup.sharedKeyPairs`, "curate" being the capped
    // call perfbench curate makes. All but curate and q173 keep the
    // counts they had before the family shared the kernel; curate's
    // postings no longer broadcast, and q173's df cap lost its rejoin
    val consumers = Map[String, () => org.apache.spark.sql.DataFrame](
      "curate" -> (() => graft.operators.Dedup.ngramJaccardPairs(
        Tables.documents(spark, sf), "doc_id", "text", "source", 3, 0.5,
        maxShingleDf = 64))) ++
      Seq("q22_ngram_jaccard", "q24_minhash_neardup",
        "q47_dedup_keep_first", "q48_neardup_lsh",
        "q134_source_overlap_matrix", "q171_winnowed_neardups",
        "q173_edit_distance_pairs", "q190_shared_substrings",
        "q191_containment_pairs")
        .map(q => q -> (() => SparkEntry.queries(q)(spark, sf)))
    val recorded = Map(
      "curate" -> ((13, 8, 0)), "q24_minhash_neardup" -> ((8, 1, 3)),
      "q48_neardup_lsh" -> ((8, 1, 3)),
      "q22_ngram_jaccard" -> ((4, 1, 1)),
      "q47_dedup_keep_first" -> ((6, 3, 1)),
      "q134_source_overlap_matrix" -> ((8, 3, 2)),
      "q171_winnowed_neardups" -> ((6, 5, 0)),
      "q173_edit_distance_pairs" -> ((7, 3, 2)),
      "q190_shared_substrings" -> ((6, 3, 0)),
      "q191_containment_pairs" -> ((4, 1, 1)))
    val got = consumers.map { case (q, build) =>
      val nodes = planNodes(build())
      q -> ((nodes.count(_.isInstanceOf[Exchange]),
        nodes.count(_.isInstanceOf[SortExec]),
        nodes.count(_.isInstanceOf[BroadcastExchangeExec])))
    }
    assert(got === recorded)
  }
}
