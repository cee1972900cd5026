package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.FixtureGuard.assumeFile

/** Physical-plan audits: at 100 TB these properties are the difference
  * between a working query and a working cluster. Asserted here so a
  * refactor that silently degrades the plan (loses a broadcast, drops
  * pushdown, breaks partial aggregation) fails CI, not production.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q05 joins every dimension via broadcast, never sort-merge") {
    val p = plan("q05_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dims must broadcast:\n$p")
  }

  test("q01 aggregates with map-side partial aggregation") {
    val p = plan("q01_pricing_summary")
    // partial then final HashAggregate pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q06 pushes filters down to the parquet scan") {
    val p = plan("q06_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThan") ||
      p.contains("LessThan"), s"expected pushed predicates:\n$p")
  }

  test("q06 prunes columns at the scan (no full-row read)") {
    val p = plan("q06_forecast_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // only the needed columns, not all 11 lineitem columns
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q03 top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q03_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q08 window rank gets a single exchange per partition key") {
    val p = plan("q08_top_customers_per_nation")
    assert(p.contains("Window"), p)
    // one shuffle for the window, nothing extra before the filter
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("p10 ANN scans with a broadcast query vector (no shuffle of corpus)") {
    // the p10 ENTRY returns the ANN family's memoized localCheckpoint
    // (plan = Scan ExistingRDD), so the audit targets the operator the
    // memo materializes: the brute-force scan itself must broadcast the
    // 1-row query vector and TakeOrder the top-k — never shuffle the
    // corpus
    val p = graft.operators.Similarity.bruteForceTopKE6(
        graft.Tables.t(spark, sf, "embeddings"), "vec_id", "embedding",
        0, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q32 band join plans as an equi-join, not a nested loop") {
    val p = plan("q32_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range predicate must ride the (key, bin) equi-join:\n$p")
  }

  test("q38 bucketed join shuffles NEITHER fact input") {
    // run once so the bucketed tables exist, then audit the join plan.
    // At sf0.001 the planner would broadcast the tiny side (and rightly
    // skip the bucketed scan); disable broadcast to expose the shape the
    // plan takes when both sides are fact-sized — the case bucketing is
    // FOR — and assert it is an exchange-free sort-merge join.
    SparkEntry.queries("q38_bucketed_join")(spark, sf).count()
    import org.apache.spark.sql.functions.col
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = spark.table("graft_li_bucketed")
        .join(spark.table("graft_ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed fact-fact join must be exchange-free:\n$p")
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("q37 salted aggregation partial-aggregates before both shuffles") {
    val p = plan("q37_salted_hotkey_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final x2
  }

  test("q26 as-of join never falls back to a nested loop") {
    val p = plan("q26_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must stay union+window, not per-pair comparison:\n$p")
  }

  test("q39 salted join actually joins on (key, salt)") {
    val p = plan("q39_salted_skew_join")
    assert(p.contains("_salt"), s"salt must be part of the join key:\n$p")
  }

  test("IVF assignment is a pure map: zero exchanges, zero joins") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.t(spark, sf, "embeddings")
    val index = graft.operators.Similarity.ivfBuild(emb, "vec_id", "embedding")
    val p = graft.operators.Similarity
      .ivfAssign(emb, "vec_id", "embedding", index)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"codebook must ride as literals:\n$p")
    assert(!p.contains("Window"), s"argmax must not use a window:\n$p")
  }

  test("PQ encode is a pure map: zero exchanges, zero joins") {
    val emb = Tables.t(spark, sf, "embeddings")
    val index = graft.operators.Similarity
      .pqBuild(emb, "vec_id", "embedding", m = 8, k = 16)
    val p = graft.operators.Similarity
      .pqEncode(emb, "vec_id", "embedding", index)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encoding must not shuffle:\n$p")
    assert(!p.contains("Join"), s"codebooks must ride as literals:\n$p")
    assert(!p.contains("Window"), s"argmin must not use a window:\n$p")
  }

  test("kmeans assignment is a pure map: zero exchanges, zero joins") {
    val emb = Tables.t(spark, sf, "embeddings")
    val model = graft.operators.KMeansOp
      .fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val p = graft.operators.KMeansOp
      .assign(emb, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"cluster state must ride as literals:\n$p")
    assert(!p.contains("Window"), s"argmin must not use a window:\n$p")
  }

  test("osmpbf scan reports pruned columns and pushed kind") {
    assumeFile(graft.queries.OsmQueries.fixturePath)
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("osmpbf")
      .load("/root/reference/src/test/java/resources/temp.dat")
      .filter(col("type") === "node").select("id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("kinds=Node"), p)
    assert(p.contains("columns=id"), p)
  }

  test("q49 naive band join is auto-rewritten away from a nested loop") {
    val p = plan("q49_band_join_rule")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"BandJoinRewrite must turn the pure band join into an equi-join:\n$p")
    assert(p.contains("__band_bin"), p)
  }

  test("q45 moments run as one partial-aggregated shuffle, no extra pass") {
    val p = plan("q45_stats_moments")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // one exchange for the groupBy, one for the final tiny sort — the five
    // sufficient statistics must NOT add passes over lineitem
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
    assert("FileScan|BatchScan".r.findAllIn(p).size == 1,
      s"one scan of lineitem only:\n$p")
  }

  test("p29 vocab top-k never materializes a global sort") {
    val p = plan("p29_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p31 centroids shuffle scalar cells, not embedding arrays") {
    val p = plan("p31_label_centroids")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial aggregation must run map-side:\n$p")
    // the explode (Generate) must happen BEFORE the exchange so only
    // (label, dim, decimal) cells shuffle, never array<float> payloads
    val genIdx = p.indexOf("Generate")
    val exIdx = p.indexOf("Exchange")
    assert(genIdx >= 0 && exIdx >= 0 && genIdx > exIdx,
      s"Generate must be below the first Exchange in the plan tree:\n$p")
  }

  test("p38 dup-coverage is an inverted index: partial aggs, no product join") {
    val p = plan("p38_dup_ngram_coverage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join must stay an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram DF count must partial-aggregate map-side:\n$p")
    // The gram DF must come from an aggregation (map-side combinable),
    // never a window partitioned by gram: a hot boilerplate gram would
    // funnel its whole posting list into ONE window task at 100 TB.
    assert(!p.contains("Window"),
      s"per-gram DF must not ride a gram-partitioned window:\n$p")
  }

  test("p45 substring spans: gram DF by aggregation; window is doc-keyed") {
    val p = plan("p45_substring_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join must stay an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram occurrence count must partial-aggregate map-side:\n$p")
    // the gaps-and-islands merge may window — but ONLY partitioned by
    // the document id (bounded by doc length), never by gram
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition"))
    assert(winSpecs.forall(l => l.contains("doc_id") && !l.contains("__gram")),
      s"span-merge windows must partition by doc_id, not gram:\n$p")
  }

  test("p67 boilerplate strip: gram DF by aggregation; window is doc-keyed") {
    val p = plan("p67_boilerplate_strip")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join must stay an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram duplication must partial-aggregate map-side:\n$p")
    // identical discipline to p45: the only window is the span merge,
    // partitioned by document id — never by gram
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition"))
    assert(winSpecs.forall(l => l.contains("doc_id") && !l.contains("__gram")),
      s"span-merge windows must partition by doc_id, not gram:\n$p")
  }

  test("q71 trailing distinct: map-side fan-out, broadcast clip, partial aggs") {
    val p = plan("q71_trailing_distinct")
    // the 7-day fan-out must explode map-side against a BROADCAST day
    // dictionary — a shuffled join here would move the fact table twice
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"(day,user) dedup must partial-aggregate map-side:\n$p")
    // COUNT(DISTINCT) OVER RANGE must never become a window at all
    assert(!p.contains("Window"),
      s"the trailing distinct is a fan-out aggregation, not a window:\n$p")
  }

  test("q51 profiler: two-level distinct aggregation, never an Expand") {
    val p = plan("q51_column_profile")
    // multiple count(DISTINCT) in one aggregate would plan an Expand
    // that multiplies the fact table once per profiled column (the q34
    // bug class); the melt + two-level shape must never do that
    assert(!p.contains("Expand"), s"profiler must not Expand the scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"distinct set must partial-aggregate map-side:\n$p")
  }

  test("p44 mixture rates ride a broadcast join, never a corpus shuffle") {
    val p = plan("p44_mixture_rebalance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the per-language rate table must broadcast:\n$p")
  }

  test("osm11 relation assembly joins are equi-joins, never nested loops") {
    assumeFile(graft.queries.OsmQueries.fixturePath)
    val p = plan("osm11_relation_geometry")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"both hops must plan as hash/sort-merge equi-joins:\n$p")
  }

  test("p52 LM score: count frames are aggregations, never a window") {
    val p = plan("p52_bigram_lm_score")
    assert(!p.contains("Window"),
      s"bigram/context DF must come from partial aggs, not a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the V frame must broadcast (1 row), never cartesian:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final agg pairs for bc/cc:\n$p")
  }

  test("p54 DSIR: dictionary joins are equi-joins with partial aggs") {
    val p = plan("p54_dsir_importance")
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"token-dictionary join-back must stay equi + agg:\n$p")
  }

  test("p53 bloom probe filters rows BEFORE the exact-confirm join") {
    val p = plan("p53_bloom_decontamination")
    // the map-side Bloom probe survives as a UDF filter; without it the
    // whole corpus shingle stream reaches the shuffle join
    assert(p.contains("Filter UDF"), s"bloom probe filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the first equi-join in the tree is the exact-confirm join (BHJ at
    // test SF; SMJ/SHJ when the eval set outgrows broadcast) — the probe
    // filter must appear BELOW it, i.e. later in the rendered tree
    val joinIdx = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(p.indexOf).filter(_ >= 0).min
    assert(p.indexOf("Filter UDF") > joinIdx,
      s"probe must sit below the confirm join in the plan tree:\n$p")
  }

  test("q56 pivot partial-aggregates before every shuffle") {
    val p = plan("q56_pivot_wide")
    // two-level agg (count by (priority,year) -> pivotfirst by priority)
    // + final sort = 3 exchanges, but each carries only O(groups) rows
    // because a partial aggregate sits below it — pin both properties
    assert(p.contains("partial_count"), s"map-side count missing:\n$p")
    assert(p.contains("partial_pivotfirst"),
      s"map-side pivot aggregation missing:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("q57 array HOFs stay in codegen: no window, top-k not a global sort") {
    val p = plan("q57_array_hof")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("p56 budget cut: chunk totals partial-aggregate, windows stay keyed") {
    val p = plan("p56_token_budget")
    // level-1 chunk totals must partial-aggregate map-side, and every
    // window must carry a partition key (source / source+chunk) — an
    // unkeyed window here would be the single-source funnel the
    // operator exists to avoid
    assert(p.contains("partial_sum"), s"chunk totals must partial-agg:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"no single-partition exchange may feed these windows:\n$p")
  }

  test("p57 per-key rank range-partitions; no key becomes one task") {
    val p = plan("p57_curriculum_order")
    // rankWithinKey's contract: the corpus shuffles by RANGE over
    // (key, order), never hash-by-key-alone into per-key window tasks
    assert(p.contains("rangepartitioning"),
      s"range repartition missing from the rank plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no single-partition exchange may appear:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 must not global-sort:\n$p")
  }

  test("q58 point-in-time join stays an equi-join with a range filter") {
    val p = plan("q58_scd2_pointintime")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"temporal validity must ride the custkey equi-join as a filter:\n$p")
  }

  test("p60 segment dedup: keep-first by aggregation, never a window") {
    val p = plan("p60_segment_dedup")
    // first-occurrence must come from a segment-keyed min AGGREGATION
    // (map-side partial min) + join-back — a window partitioned by
    // segment text would funnel a boilerplate segment's full posting
    // list into one task at 100 TB
    assert(!p.contains("Window"),
      s"keep-first must not ride a segment-partitioned window:\n$p")
    assert(p.contains("partial_min"),
      s"first-key min must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the join-back must stay an equi-join:\n$p")
  }

  test("p62 drift matrix: dictionary aggs + equi-joins, no window, no product") {
    val p = plan("p62_source_drift")
    assert(!p.contains("Window"),
      s"drift sums must be aggregations, never windows:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the shared-token join must stay an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token counts must partial-aggregate map-side:\n$p")
  }

  test("p63 calibration rank range-partitions; no per-source window funnel") {
    val p = plan("p63_quality_calibration")
    assert(p.contains("rangepartitioning"),
      s"rankWithinKey's range repartition missing:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no single-partition exchange may appear:\n$p")
  }

  test("q63 sweep: event-stream windows are hour-keyed; only the hour dictionary is global") {
    val p = plan("q63_peak_concurrency")
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty, p)
    // the running sum over EVENTS must partition by the hour chunk; the
    // only unpartitioned window is the cumulative offset over the hour
    // DICTIONARY (one row per timeline hour — metadata-sized by design)
    val eventWins = winSpecs.filter(_.contains("__t"))
    assert(eventWins.nonEmpty && eventWins.forall(_.contains("__h")),
      s"the endpoint running sum must be hour-partitioned:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the offset join-back must stay an equi-join:\n$p")
  }

  test("p61 winnowing: selection window is doc-keyed; pair join equi") {
    val p = plan("p61_winnow_pairs")
    // the rightmost-min selection may window — but ONLY partitioned by
    // the document id (bounded by doc length); the fingerprint DF cap
    // and pair count must be aggregations
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty, s"selection must use a frame window:\n$p")
    assert(winSpecs.forall(l => l.contains("doc_id") && !l.contains("fp")),
      s"selection windows must partition by doc_id, never fingerprint:\n$p")
    // exactly ONE single-partition reduce is allowed: the round-12
    // doc-length witnessGuard's 1-row count aggregate (a broadcast
    // guard, not a data-path funnel). Count DISTINCT plan_ids — the
    // pre-AQE text prints a shared exchange subtree once per tree
    // position, but one plan_id is one physical exchange
    val spIds = "Exchange SinglePartition[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(spIds.size <= 1,
      s"only the witness-count guard may reduce to one partition:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the fingerprint self-join must stay an equi-join:\n$p")
    // nested loops are allowed ONLY in the guard shape (BuildRight,
    // Cross against the 1-row witness-count aggregate — the p99/p107
    // precedent); the fingerprint self-join itself must stay equi
    p.split("\n").filter(_.contains("BroadcastNestedLoopJoin")).foreach {
      l => assert(l.contains("BuildRight, Cross"),
        s"non-guard nested loop: $l\n$p")
    }
  }

  test("q73 spatial radius join is a cell equi-join, never a cartesian") {
    val p = plan("q73_spatial_grid_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"grid bucketing must make the radius join an equi-join:\n$p")
    // the distance filter rides the cell join, not a post-join pass of
    // a wider product; the aggregate partial-aggregates map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q76 fact scan carries a runtime dynamicpruning partition filter") {
    val p = plan("q76_dynamic_partition_pruning")
    assert(p.contains("dynamicpruning"),
      s"the year-partitioned fact scan must be runtime-pruned by the " +
        s"filtered dim, not fully read:\n$p")
  }

  test("q79 join hints produce all three physical join strategies") {
    val p = plan("q79_join_strategy_hints")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin"),
      s"the merge hint must force SMJ even on a broadcastable dim:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"the shuffle_hash hint must force SHJ:\n$p")
  }

  test("q81 twice-referenced aggregate reuses its exchange, not the scan") {
    // exchange reuse is finalized by AQE at runtime — audit the
    // post-execution plan, not the initial one
    val df = SparkEntry.queries("q81_exchange_reuse")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"the second consumer of the aggregate must read a ReusedExchange, " +
        s"not rescan+reshuffle the fact table:\n$p")
  }

  test("q82 null-safe join plans as a hash equi-join, not a nested loop") {
    val p = plan("q82_null_safe_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"EqualNullSafe is an equi-key; it must hash-join:\n$p")
  }

  test("q75 grouped OLS shuffles facts once, regression on monthly rows") {
    val p = plan("q75_grouped_ols")
    // nation dim must broadcast; the only SMJ/shuffle joins allowed are
    // the order-customer equi-join feeding the first partial aggregate
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("round-6 batch: partial aggregation everywhere, no nested loops") {
    // the remaining new entries share one scale contract: every
    // aggregate partial-aggregates map-side (HashAggregate pairs) and
    // no join degrades to a nested loop / cartesian. p75's only
    // crossJoin is against the broadcast one-row token target — allow
    // broadcast NLJ with a ONE-ROW build side there by pinning just
    // the cartesian ban.
    for (name <- Seq("q74_incremental_rollup", "q77_mad_outliers",
      "q78_sketch_grain_rollup", "q80_cohort_retention",
      "p73_dup_provenance", "p76_dataset_card",
      "p77_selection_pipeline")) {
      val p = plan(name)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
    val p75 = plan("p75_epoch_upsample")
    assert("HashAggregate".r.findAllIn(p75).size >= 2, p75)
    assert(!p75.contains("CartesianProduct"), p75)
  }

  test("p78 reservoir: bounded aggregator, never a per-key sort window") {
    val p = plan("p78_reservoir_per_key")
    assert(!p.contains("Window"), s"per-key sample must aggregate:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"typed TopK aggregator missing:\n$p")
  }

  test("p81 triangles: degree lookups broadcast, all joins equi") {
    val p = plan("p81_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"degree table must broadcast:\n$p")
  }

  test("q85 weighted median: the window rides the value-domain aggregate") {
    // the cumulative window must sit ABOVE the (flag, qty) hash
    // aggregate — i.e. it sees the value dictionary, never raw lineitem
    val p = plan("q85_weighted_median")
    val w = p.indexOf("Window")
    assert(w >= 0, p)
    assert(p.indexOf("HashAggregate", w) >= 0,
      s"window must consume the pre-aggregated frame:\n$p")
  }

  test("round-6 batch 4: partial aggregation, no cartesians, mode without window") {
    for (name <- Seq("p79_ngram_novelty", "p80_dim_standardize",
      "p82_containment_decon", "q83_mode_per_group", "q86_fk_integrity")) {
      val p = plan(name)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      if (name == "q83_mode_per_group" || name == "p80_dim_standardize")
        assert(!p.contains("Window"), s"$name must not window:\n$p")
    }
    // q84's only nested-loop is the broadcast one-row bounds frame
    val q84 = plan("q84_histogram")
    assert(!q84.contains("CartesianProduct"), q84)
    assert(!q84.contains("Window"), q84)
    // p83's cumsum window partitions by source over the value
    // dictionary; the grid product is dictionary x dictionary (allowed
    // broadcast NLJ), never a fact-sized product
    val p83 = plan("p83_ks_drift")
    assert(!p83.contains("CartesianProduct"), p83)
    assert(p83.contains("Window"), p83)
    assert("HashAggregate".r.findAllIn(p83).size >= 2, p83)
    // p84/p85 perceptual dedup: one hash-keyed aggregation over the
    // map-side fingerprint; q87 fingerprints: partial-aggregable sums
    for (name <- Seq("p84_image_dhash_dedup", "p85_audio_fingerprint_dedup",
      "q87_table_fingerprint")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
    // q88 merge-schema read: one union scan feeding a partial-agg pair
    val q88 = plan("q88_schema_evolution")
    assert("HashAggregate".r.findAllIn(q88).size >= 2, q88)
    assert(!q88.contains("CartesianProduct"), q88)
  }

  test("p86 near-dup pairing is chunk-keyed equi, never all-pairs") {
    val p = plan("p86_image_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"hash pairing must ride the chunk equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("p87 augmentation is map-side: per-doc agg only, no window, no join") {
    val p = plan("p87_mask_augmentation")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("Aggregate".r.findAllIn(p).size >= 1, p)
  }

  test("p88 quantization audit: dims-sized broadcast back-join, no window") {
    // the per-dim range table must ride a broadcast join onto the exploded
    // stream (it is dims-sized), and the error report must be plain
    // partial-aggregable hash aggregation — a sort-merge join or window
    // here would shuffle the full (rows x dims) stream twice at 100 TB.
    val p = plan("p88_int8_quant")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("p89 temperature mix: keep decision rides a sources-sized broadcast") {
    // thresholds live on the per-source dictionary; the per-document
    // Bernoulli gate must consume it via broadcast, never a shuffle of
    // the corpus on source — and no window anywhere.
    val p = plan("p89_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("p91 entity match: gram-keyed equi blocking, never a cross product") {
    // the dirty x canon cross product is exactly what the trigram index
    // exists to avoid; the confirm must ride equi-joins end to end, and
    // the best-match argmin must be an aggregation, not a window
    val p = plan("p91_fuzzy_entity_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q94 twin search: cell equi-join pairing, no cross product, no window") {
    val p = plan("q94_behavior_twins")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    // the profile dictionary must come from the explicit cache
    assert(p.contains("InMemoryTableScan"), p)
    SparkTestSession.spark.catalog.clearCache()
  }

  test("rank-filter top-k queries get WindowGroupLimit pre-shuffle pruning") {
    // Spark's WindowGroupLimit rewrites rank()<=k filters into a
    // per-map-task top-k prune BEFORE the window's shuffle — each
    // upstream task ships k rows per group instead of the whole group.
    // Losing it (e.g. by breaking the filter's shape) silently turns
    // the per-nation top-3 into a full-group sort at 100 TB.
    for (n <- Seq("q08_top_customers_per_nation", "q40_lateral_topn")) {
      val p = plan(n)
      assert(p.contains("WindowGroupLimit"),
        s"$n lost the pre-shuffle group-limit prune:\n$p")
    }
  }

  test("p95 sketch build is the bounded aggregator, never an all-pairs join") {
    // the KMV build must be the TopKByOrd ObjectHashAggregate over the
    // threshold-pruned hash stream (the deliberate sources x sources
    // pair enumeration is a 20-row dictionary cross and is allowed);
    // losing the aggregator to a rank-then-filter window would put the
    // per-source gram dictionary through one task at 100 TB
    val p = plan("p95_kmv_source_overlap")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded top-k aggregator missing from the sketch build:\n$p")
    SparkTestSession.spark.catalog.clearCache()
  }

  test("q89 both report legs read the cached rollup, not the fact table") {
    // the monthly rollup is cached; top3 AND mom_delta must consume
    // InMemoryTableScan — losing the cache silently doubles the fact
    // scan+shuffle. (The mom window is global but its input is the
    // <=84-row month dictionary — the q63 bounded-global discipline.)
    val p = plan("q89_cached_two_pass")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"expected two cached consumers:\n$p")
    SparkTestSession.spark.catalog.clearCache()
  }

  test("p98 BM25: dictionary joins broadcast, top-20 is TakeOrdered") {
    // the fact path (doc, term) aggregation joins ONLY broadcast
    // dictionaries (query terms, totals) — a sort-merge join here would
    // shuffle the corpus against a 4-row frame — and the final top-20
    // must be TakeOrderedAndProject, not a global sort. The p98 ENTRY
    // serves the Pipeline5.bm25Top20 memo (plan = checkpoint scan, the
    // p10 pattern), so the audit targets the plan the memo materializes.
    val p = graft.queries.Pipeline5.bm25Top20Plan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q24/q53/p33 never plan the collect-all percentile aggregator") {
    // the exact-quantile entries ride RankOps.exactQuantiles
    // (dictionary rank arithmetic); a revert to `percentile` would
    // reintroduce a per-group buffer that grows with group size —
    // invisible at fixture scale, an executor OOM at 100 TB. q53's
    // sketch keeps approx_percentile, which is the bounded one.
    // exactQuantiles' small-dictionary fast path MAY use the aggregator
    // — but only in the weighted (value, count) dictionary form, whose
    // buffer is bounded by smallDictLimit rather than group size: every
    // percentile call in the plan must carry the __c weight argument
    Seq("q24_percentiles", "q53_approx_quantiles",
        "p33_quality_percentile_filter").foreach { name =>
      val p = plan(name)
      val calls = "(?:partial_)?percentile\\([^\\)]*".r
        .findAllIn(p.replace("approx_percentile(", "SKETCH(")).toList
      calls.foreach { c =>
        assert(c.contains("__c#"),
          s"$name: raw-row percentile (unbounded buffer): $c")
      }
      spark.catalog.clearCache()
    }
  }

  test("p99 semantic dedup: pair join is cluster-blocked, never a product") {
    // the within-cluster pair join must plan as an equi-join on the
    // refined (cluster, sub-cell) blocking key — the blocking that
    // bounds the quadratic. A CartesianProduct would mean the key fell
    // out of the join condition. Nested-loop joins are allowed ONLY in
    // the guard shape (BuildRight, Cross against the 1-row pair-budget
    // aggregate that semanticDedupBounded rides on every consumer).
    for (name <- Seq("p99_semantic_dedup", "p107_semdedup_resplit")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name unblocked pair join:\n$p")
      p.split("\n").filter(_.contains("BroadcastNestedLoopJoin")).foreach {
        l => assert(l.contains("BuildRight, Cross"),
          s"$name: non-guard nested loop: $l")
      }
      assert("Join \\[cluster#\\d+, __sub#\\d+L?\\]".r.findFirstIn(p).isDefined,
        s"$name: pair join must be an equi-join on (cluster, __sub):\n$p")
      spark.catalog.clearCache()
    }
  }

  test("p113 ranks per-lang top-5 without a vocab Window or forced broadcast") {
    // the raw-web token vocabulary is unbounded (~10^8-10^9 types at
    // 100 TB): the per-token df dictionary must NOT be force-broadcast
    // (AQE may still choose to at small SF — the hint is the hazard,
    // not the runtime choice) and top-5-per-lang must run through the
    // bounded TopKStrByOrd aggregate, never a per-lang row_number
    // window that sorts the whole vocab x langs frame in one task.
    val df = SparkEntry.queries("p113_chi2_features")(spark, sf)
    val analyzed = df.queryExecution.analyzed.toString
    // the only permitted hint is the class-sized per-lang count frame
    // (it appears once per reference to the shared chi2 subtree); every
    // hint's child must be the n_lang aggregate — never the vocab df
    val lines = analyzed.split("\n")
    val hintIdx = lines.indices.filter(lines(_).contains("ResolvedHint"))
    assert(hintIdx.nonEmpty, s"nLang hint vanished:\n$analyzed")
    hintIdx.foreach { i =>
      val child = lines.drop(i + 1).find(_.contains("Aggregate ["))
      assert(child.exists(_.contains("n_lang")),
        s"broadcast hint on a non-nLang frame:\n${lines.slice(i, i + 4).mkString("\n")}")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"vocab-sized window survived:\n$p")
    assert(p.contains("TopKStrByOrd") || p.contains("topkstrbyord") ||
      p.toLowerCase.contains("topkstr"),
      s"bounded top-k aggregator missing from plan:\n$p")
    assert(p.contains("partial_"), s"top-k must partial-aggregate:\n$p")
  }

  test("p128/p129 alignment kernels are map-side: no join, no window") {
    // the reference probes are plan literals and the DP kernels are
    // native expressions, so the ONLY plan structure allowed is scan ->
    // project/generate -> partial agg -> exchange -> final agg -> sort;
    // a Join or Window would mean the probes stopped riding the plan
    for (name <- Seq("p128_rougel_decontam", "p129_local_align")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
      assert(!p.contains("Window"), s"$name grew a window:\n$p")
      assert(p.contains("partial_"), s"$name must partial-aggregate:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("p123/p124 aggregate partially, no window, no cartesian") {
    // fertility: word-dictionary encode joins back by key; k-anonymity
    // is one count shuffle + a dictionary rollup — neither may plan a
    // window (nothing here ranks) or an unkeyed join
    for (name <- Seq("p123_tokenizer_fertility", "p124_k_anonymity")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name grew a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(p.contains("partial_"), s"$name must partial-aggregate:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("p130/p133 corpus passes partial-aggregate and never rank via window") {
    // p130's pass-2 encode and p133's bucket/first-occurrence stats are
    // plain count shuffles over the dictionary discipline — a Window
    // anywhere means a rank snuck in; a CartesianProduct means a
    // literal-spine join lost its broadcast (the 1-row/10-row frames
    // must ride BroadcastNestedLoop, never a materialized cross)
    for (name <- Seq("p130_unigram_em", "p133_heaps_law")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name grew a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(p.contains("partial_"), s"$name must partial-aggregate:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("p132's per-source ranking is range-partitioned, not one window per source") {
    // rankWithinKey: ranks come from range partitions + offsets; the
    // only windows allowed are the bounded per-(pid, key) local rank
    // and the P-row offset scan — never a bare partitionBy(source)
    // over the corpus-sized word frame
    val p = plan("p132_zipf_slope")
    assert(p.contains("Window"), s"rankWithinKey's local window missing:\n$p")
    assert(p.contains("__pid"), s"range-partition pid missing:\n$p")
    assert(p.contains("partial_"), s"fit sums must partial-aggregate:\n$p")
    spark.catalog.clearCache()
  }

  test("p144 KN model: partial aggregation, persisted bc reused, no product") {
    val p = plan("p144_kneser_ney")
    // per-source rollup and every model-stat count must map-side combine
    assert(p.contains("partial_sum") && p.contains("partial_count"), p)
    // the persisted bigram-count frame feeds cc/nw/B and the type join
    // from ONE materialization — at least two InMemoryTableScans, or
    // the persist() is decorative
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"bc persist not reused:\n$p")
    // every join is keyed (the only nested-loop joins are 1-row
    // broadcast cross joins of the consts/vocab scalars)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("p145 BLEU: candidate pairs via shingle equi-join, top-20 TakeOrdered") {
    val p = plan("p145_bleu_decontam")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"top-k must never global-sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay shingle-keyed:\n$p")
    spark.catalog.clearCache()
  }

  test("p146 confident joint: argmax pruned pre-shuffle, windows per doc only") {
    val p = plan("p146_confident_learning")
    // rank<=1 filter must push WindowGroupLimit below the exchange so
    // only per-doc leaders shuffle, not every qualified (doc, class)
    assert(p.contains("WindowGroupLimit"), p)
    // the one Window partitions by doc_id (class-count-sized groups);
    // a corpus-wide or class-wide window would be a funnel
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("p147 boundary agreement: dictionary discipline, no window, TakeOrdered") {
    val p = plan("p147_boundary_agreement")
    // encode-once-per-distinct-word: the cut/intersect HOFs run after
    // the word groupBy, never per corpus row, and nothing needs a window
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("TakeOrderedAndProject(limit=20"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"enc persist must feed totals AND top-20 from one materialization:\n$p")
    spark.catalog.clearCache()
  }

  test("p148 tau: pair join equi-keyed on source, sample rank range-partitioned") {
    val p = plan("p148_signal_agreement")
    assert(!p.contains("CartesianProduct"),
      s"the pair join must be keyed, never a product:\n$p")
    assert(p.contains("__pid"),
      s"rankWithinKey's range-partition sample missing:\n$p")
    assert(p.contains("partial_sum"), p)
    spark.catalog.clearCache()
  }

  test("p160 containment: inverted-index equi-joins, never a product; " +
      "cap and orientation by aggregation, not a window") {
    val p = plan("p160_containment_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate join must stay an equi-join:\n$p")
    assert(!p.contains("Window"),
      s"DF cap and orientation are aggregations + map-side compares:\n$p")
  }

  test("p162 principal direction: pair cells reduce by partial " +
      "aggregation; no window, no unbroadcast product") {
    val p = plan("p162_principal_direction")
    // the 1-row n/max normalizer frames legitimately ride a
    // BroadcastNestedLoopJoin-Cross (a crossJoin against a broadcast
    // single row — the ScaleGuards shape); what must NEVER appear is
    // an unbroadcast CartesianProduct
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast crosses are allowed:\n$p")
    assert(!p.contains("Window"),
      s"the two-level sum is aggregation-only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cell sums must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"the 1-row max and n frames must broadcast:\n$p")
  }

  test("p159 HITS: normalizers ride 1-row broadcast crosses; " +
      "edge-score joins are equi-joins") {
    val p = plan("p159_hits_authorities")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast crosses are allowed:\n$p")
    // the edge->score joins themselves must be hash/sort equi-joins
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"),
      s"edge-score joins must be equi-joins:\n$p")
    assert(!p.contains("Window"), s"no window in the iteration:\n$p")
  }

  test("p164 conformal: rank selection never uses an unpartitioned " +
      "window; dictionaries broadcast") {
    val p = plan("p164_conformal_coverage")
    // rankWithinKey's internal windows are partitioned (by __pid/key);
    // an UNPARTITIONED window would read "Window [...]" with an empty
    // partition spec — assert the funnel shape is absent
    assert(!p.contains("SinglePartition"),
      s"no stage may funnel to a single partition:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the lang-dictionary mu/qhat frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"equi-joins only:\n$p")
  }

  test("p165 vocab gini: the rank/prefix machinery keeps windows " +
      "partitioned; token counts partial-aggregate") {
    val p = plan("p165_vocab_gini")
    assert(!p.contains("SinglePartition"),
      s"no stage may funnel to a single partition:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token counts must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"equi-joins only:\n$p")
  }

  test("p167 cross-fold contamination: fold arithmetic is map-side; " +
      "only the 1-row total broadcasts") {
    val p = plan("p167_crossfold_contamination")
    // the pair set rides the near-dup family; past it the plan is one
    // fold-pair aggregation plus a 1-row total cross (the ScaleGuards
    // broadcast shape) — never an unbroadcast product or a window
    assert(!p.contains("CartesianProduct"),
      s"only 1-row broadcast crosses are allowed:\n$p")
    p.split("\n").filter(_.contains("BroadcastNestedLoopJoin")).foreach {
      l => assert(l.contains("BuildRight, Cross"),
        s"non-total nested loop: $l")
    }
    assert(!p.contains("Window"), s"counts aggregate, never window:\n$p")
  }

  test("p168 MMD drift: one corpus pass to the (label x dim) " +
      "dictionary, pair expansion by dim equi-join, no window") {
    val p = plan("p168_embedding_mmd_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the label-pair expansion must ride the dim equi-join:\n$p")
    assert(!p.contains("Window"), s"aggregation-only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"the (label, dim) sums must partial-aggregate map-side:\n$p")
  }

  test("p169 hourly MMD: (hour x dim) sums partial-aggregate; the " +
      "baseline joins broadcast; no window") {
    val p = plan("p169_mmd_drift_hourly")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row baseline-count broadcast cross is allowed:\n$p")
    p.split("\n").filter(_.contains("BroadcastNestedLoopJoin")).foreach {
      l => assert(l.contains("BuildRight, Cross"),
        s"non-baseline nested loop: $l")
    }
    assert(!p.contains("Window"), s"aggregation-only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"the (hour, dim) sums must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 64-row baseline must broadcast:\n$p")
  }
}
