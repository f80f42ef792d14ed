package graft.queries

import graft.{GraftSession, SparkSpec}

/** Regression tests for the plan shapes the engine's scale posture depends
  * on — a correct result with a degraded plan (lost pushdown, dropped
  * broadcast, missing partial aggregation) is a 100 TB failure even when
  * the hash matches at sf0.01. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q6: every predicate reaches the parquet scan (PushedFilters)") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_quantity,24.0)"),
      "expected shipdate+quantity filters pushed to the scan")
    // column pruning: the scan must not read the full 11-column lineitem
    assert(!p.contains("l_orderkey"), "scan reads unprojected columns")
  }

  test("q5: dimension hops broadcast, no cartesian products") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("q1: aggregation has a partial (map-side) phase") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_"), "no map-side partial aggregation in q1")
  }

  test("sort_topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("zarr_pushdown: dim ranges absorbed into the connector scan") {
    val p = plan("zarr_pushdown")
    assert(p.contains("ranges=inline:[8,24)"), "chunk-range pushdown missing:\n" + p.take(600))
  }

  test("join_semi plans as a semi join (no full materialization)") {
    val p = plan("join_semi")
    assert(p.contains("LeftSemi"), p.take(400))
  }

  test("dedup_embedding: banded LSH joins on (band, bucket), no cartesian") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct"), "banded LSH must never go quadratic")
    assert(!p.contains("BroadcastNestedLoopJoin"), "banded LSH must join on keys")
    // candidate pairs dedupe before verification: a distinct aggregate exists
    assert(p.contains("partial_") || p.contains("HashAggregate"), p.take(400))
  }

  test("ann_ivf: cell probe keeps one scan of embeddings per stage, codegen'd") {
    val p = plan("ann_ivf")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("pipeline_compose: dedup semi-join, partial aggs, no cartesian") {
    val p = plan("pipeline_compose")
    assert(p.contains("LeftSemi"), "keeper filter must be a semi join")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("partial_"), "final agg needs a map-side phase")
  }

  test("sort_zorder: z-value top-k is TakeOrderedAndProject, key codegen'd") {
    val p = plan("sort_zorder")
    assert(p.contains("TakeOrderedAndProject"), "z-order top-k must not global-sort")
    assert(!p.contains("Exchange") || p.contains("TakeOrderedAndProject"),
      "no shuffle beyond the top-k gather")
  }

  test("pipeline_split: assignment is a pure map — one aggregation, no rand") {
    val p = plan("pipeline_split")
    assert(!p.toLowerCase.contains("rand"), "split must be deterministic, not rand()")
    assert(p.contains("partial_") || p.contains("HashAggregate"),
      "count needs a map-side partial phase")
    // exactly one shuffle: the groupBy(split, lang) — assignment adds none
    assert(p.split("Exchange").length - 1 <= 2, // partial->final pair under AQE
      "hash-split assignment must not introduce extra exchanges:\n" + p.take(600))
  }

  test("agg_cms_portable: sketch is codegen hash aggregates + broadcast probe join") {
    val p = plan("agg_cms_portable")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("ObjectHashAggregate"), "sketch must stay codegen")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "probe set must broadcast, not shuffle the sketch:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("text_decontaminate: benchmark gram set broadcasts, corpus never shuffles for the join") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the eval gram set must broadcast — a shuffle join moves the corpus:\n" + p.take(600))
    assert(!p.contains("SortMergeJoin"), "corpus-side sort-merge join defeats the broadcast design")
    assert(!p.contains("CartesianProduct"))
  }

  test("pipeline_pack: window packs within hash-partitioned groups, no global sort") {
    val p = plan("pipeline_pack")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("rangepartitioning"),
      "packing must hash-partition by group, not range-partition globally:\n" + p.take(600))
  }

  test("pipeline_quota: budget window is hash-partitioned per category, no global sort") {
    val p = plan("pipeline_quota")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("rangepartitioning"),
      "quota must hash-partition by category, not range-partition globally:\n" + p.take(600))
    assert(!p.toLowerCase.contains("rand"), "quota priority must be deterministic")
  }

  test("pipeline_sample_weighted: the keep filter is a pure map before the agg") {
    val p = plan("pipeline_sample_weighted")
    assert(!p.toLowerCase.contains("rand"), "sampling must be deterministic, not rand()")
    assert(p.contains("partial_") || p.contains("HashAggregate"))
    // one shuffle pair (partial->final groupBy); the filter itself adds none
    assert(p.split("Exchange").length - 1 <= 2,
      "hash-gated sampling must not introduce extra exchanges:\n" + p.take(600))
  }

  test("text_line_dedup: keyed anti join + partial aggs, no cartesian, no global sort") {
    val p = plan("text_line_dedup")
    assert(p.contains("LeftAnti"), "segment removal must be a keyed anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "frequent-set removal must never go quadratic")
    assert(p.contains("partial_"), "df counting needs a map-side phase")
    assert(!p.contains("Sort [") || !p.contains("global=true"),
      "reassembly must not global-sort:\n" + p.take(400))
  }

  test("dedup_containment: posting join on keys with the size prune, no cartesian") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment must route through the inverted index")
    assert(p.contains("partial_"), "pair counting needs a map-side phase")
  }

  test("pipeline_shuffle: top-k prefixes are TakeOrderedAndProject, not global sorts") {
    val p = plan("pipeline_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "epoch-prefix inspection must be top-k, not a full sort:\n" + p.take(400))
  }

  test("ann_ivf_pq: probe + ADC + re-rank stays top-k, no cartesian") {
    val p = plan("ann_ivf_pq")
    assert(p.contains("TakeOrderedAndProject"), "shortlist/re-rank must be top-k")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("text_pii: the sweep is a pure map into one aggregation, no joins") {
    val p = plan("text_pii")
    assert(!p.contains("Join"), "PII sweep must be shuffle-free before the agg")
    assert(p.contains("partial_"), "count rollup needs a map-side phase")
  }

  test("ann_ivf_pruned: the nprobe filter prunes parquet partition DIRECTORIES at the source") {
    val df = graft.SparkEntry.queries("ann_ivf_pruned")(spark, sf)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters"), "cell probe must be a partition filter:\n" + p.take(600))
    // the physical I/O fact, not just the filter's presence: the scan's
    // selected listing covers at most nprobe=16 of the store's cell
    // directories — reading fewer FILES, not filtering rows after reading
    val plan0 = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = plan0.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, "expected a parquet file scan in:\n" + plan0.toString.take(600))
    val pruned = scan.head.selectedPartitions.partitionCount
    val root = scan.head.relation.location.rootPaths.head.toUri.getPath
    val totalCells = new java.io.File(root).list().count(_.startsWith("cell="))
    assert(totalCells > 32, s"index store should carry ~64 cell partitions, found $totalCells")
    assert(pruned <= 16, s"scan selected $pruned partitions; nprobe is 16")
    assert(pruned < totalCells / 2,
      s"pruning must cut the directory listing ($pruned of $totalCells)")
  }

  test("mdio_semblance: moveout pickup is a broadcast EQUI join, never a theta join") {
    val p = plan("mdio_semblance")
    assert(p.contains("BroadcastHashJoin"),
      "the (x, tm) computed key must make the pickup an equi join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "moveout must not degrade to a nested-loop/theta join")
  }

  test("q19: the relaxed quantity envelope reaches the parquet scan") {
    val p = plan("q19_discounted_revenue")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
           p.contains("LessThanOrEqual(l_quantity,30.0)"),
      "the OR-blocks' quantity envelope must push to the fact scan")
    assert(p.contains("BroadcastHashJoin"), "part side must broadcast")
  }

  test("q7/q8: nation/region/part hops broadcast, facts join on equi keys") {
    for (q <- Seq("q7_volume_shipping", "q8_market_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dimension joins must broadcast")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: unexpected non-equi join")
    }
  }

  test("q17: the correlated avg is de-correlated — two aggs, no per-row re-execution") {
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), "per-part threshold must broadcast-join back")
    assert(!p.contains("CartesianProduct"), "no cartesian from the subquery")
  }

  test("embedding_normalize: per-dim stats broadcast back over one exploded stream") {
    val p = plan("embedding_normalize")
    assert(p.contains("BroadcastHashJoin"), "stats join must broadcast (64 rows)")
    assert(p.contains("partial_"), "per-dim aggs must have a map-side phase")
  }

  test("text_perplexity: LM counts join back on natural keys, no cartesian") {
    val p = plan("text_perplexity")
    assert(!p.contains("CartesianProduct"), "no cartesian in the score join")
    assert(p.contains("partial_"), "count aggs must map-side combine")
  }

  test("multimodal_mp4_frames: container parse is map-only into one partial agg") {
    val p = plan("multimodal_mp4_frames")
    assert(!p.contains("Exchange hashpartitioning") || p.contains("partial_"),
      "the only shuffle allowed is the final aggregate's")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), "no joins in the parse path")
  }

  test("join_spatial: neighbor-cell bucketing keeps the distance join an equi join") {
    val p = plan("join_spatial")
    assert(!p.contains("CartesianProduct"),
      "spatial join must bucket to an equi join, never all-pairs")
    // the only nested-loop allowed is the one-row span-scalar attach; the
    // point-pair join itself must be a hash/merge EQUI join on the cell
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "expected an equi join on the grid cell")
  }

  test("join_fuzzy: candidate join is an equi join on the prefix gram") {
    val p = plan("join_fuzzy")
    assert(!p.contains("CartesianProduct"),
      "fuzzy join must never plan the all-pairs product")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"),
      "expected an equi join on the posting gram")
  }

  test("text_bm25: the term filter reaches the token stream, stats broadcast") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastHashJoin"), "df/posting joins must broadcast")
    assert(p.contains("partial_"), "tf/df aggs must map-side combine")
  }

  test("runtime bloom filter: our shuffle-join shapes are eligible for " +
       "Spark's runtime row-level filtering at scale") {
    // At 100 TB a selective dimension-side predicate should seed a bloom
    // filter that prunes the fact scan BEFORE the shuffle. The optimizer
    // gates injection on size thresholds that sf0.001 can never meet, so
    // pin the MECHANISM by loosening them and forcing the join to shuffle
    // — if a Spark upgrade or a query rewrite makes our shapes ineligible
    // (e.g. a non-equi key sneaks in), this breaks.
    GraftSession.withConfs(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      import org.apache.spark.sql.functions._
      val li = graft.Tables.lineitem(spark, sf)
      val sel = graft.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 1000)
      val q = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "runtime bloom filter was not injected:\n" + p.take(800))
    }
  }

  test("geo_utm: conversion stays inside whole-stage codegen") {
    // FormattedMode on an un-executed AQE plan omits codegen stage markers —
    // CodegenMode reports the compiled subtrees directly
    val df = graft.SparkEntry.queries("geo_utm")(spark, sf)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), "geo math must be codegen'd:\n" + p.take(400))
    assert(!p.contains("BatchEvalPython"), "no python UDFs in the geo path")
  }

  test("mdio_envelope: grid expansion is an explode, no join node at all") {
    val p = plan("mdio_envelope")
    assert(p.contains("Generate"), "literal-array explode expansion missing:\n" + p.take(400))
    assert(!p.contains("Join"), "the DFT must not plan any join:\n" + p.take(600))
  }

  test("embedding_kmeans: centroid relations broadcast, assignments partial-agg") {
    val p = plan("embedding_kmeans")
    assert(p.contains("BroadcastHashJoin"), "centroid joins must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "kmeans must never go quadratic")
    assert(p.contains("partial_"), "distance sums need a map-side partial phase")
  }

  test("mdio_migrate: traveltime scan is a broadcast equi join (semblance shape)") {
    val p = plan("mdio_migrate")
    assert(p.contains("BroadcastHashJoin"), "trial grid must broadcast-join on (x, tm)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "migration must join on the computed equi key, not a theta scan")
  }

  test("text_wordpiece: tokenizer pass reads only the text column, no shuffle before the count") {
    val p = plan("text_wordpiece")
    // column pruning: the documents scan must not read lang/source/n_chars
    assert(!p.contains("n_chars"), "scan reads unprojected columns:\n" + p.take(600))
    assert(p.contains("partial_"), "token counting needs map-side combine")
  }

  test("events_cusum: one window pass, drift broadcast back, no self-join over time") {
    val p = plan("events_cusum")
    assert(!p.contains("CartesianProduct"), "closed-form CUSUM must not cross join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "prefix statistics must be window functions:\n" + p.take(400))
  }

  test("agg_ttest: one scan, partial agg, no join and no window") {
    val p = plan("agg_ttest")
    assert(p.contains("partial_"), "arm sums need map-side combine")
    assert(!p.contains("Join"), "conditional aggregation must not join:\n" + p.take(400))
    assert(!p.contains("Window"), "no window needed for moment sums")
    // pruning: the scan reads flag + price only, never the date/key columns
    assert(!p.contains("l_shipdate"), "scan reads unprojected columns")
  }

  test("agg_mannwhitney: ranks come from the distinct-value table, not per-row") {
    val p = plan("agg_mannwhitney")
    // the ONLY aggregation keyed by a fact column happens before the
    // window: the window input must be an aggregate, so the single-
    // partition window carries ~|distinct values| rows, not |rows|
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && aggIdx < winIdx,
      "midrank window must run over the grouped value table:\n" + p.take(600))
    assert(p.contains("partial_"), "value counting needs map-side combine")
  }

  test("agg_median_mad: both rank probes stay on grouped counts (no percentile buffers)") {
    val p = plan("agg_median_mad")
    assert(!p.contains("percentile"), "must not collect per-group value buffers")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "value histogram needs map-side combine")
    assert(!p.contains("CartesianProduct"),
      "single-row joins must broadcast:\n" + p.take(400))
  }

  test("window_ewma: smoothing window is hash-partitioned by the supplier key") {
    val p = plan("window_ewma")
    // the per-key window must repartition by k (NOT run single-partition);
    // the only permissible range sort is the final 100-row bucket output
    assert(p.contains("hashpartitioning(k"),
      "EWMA window must hash-partition by supplier key:\n" + p.take(600))
  }

  test("agg_gini: one orders scan into the bin table; ranked part is O(bins)") {
    val p = plan("agg_gini")
    assert(p.contains("partial_"), "binning needs map-side combine")
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && aggIdx < winIdx,
      "cumulative ranks must run over the aggregated bin table:\n" + p.take(600))
  }

  test("pipeline_k_anonymity: two-level rollup, no join, pruned scan") {
    val p = plan("pipeline_k_anonymity")
    assert(p.contains("partial_"), "class sizing needs map-side combine")
    assert(!p.contains("Join"), "k-anonymity audit is join-free")
    assert(!p.contains("c_name"), "scan must not read the name column")
  }

  test("pipeline_l_diversity: distinct-sensitive counting is a pre-aggregation, join-free") {
    val p = plan("pipeline_l_diversity")
    assert(p.contains("partial_"), "pair counting needs map-side combine")
    assert(!p.contains("Join"), "l-diversity audit is join-free")
    assert(!p.toLowerCase.contains("distinct"),
      "distinct sensitive values must come from the two-level rollup, not count(distinct)")
  }

  test("agg_autocorr: the lag window runs over the aggregated day table") {
    val p = plan("agg_autocorr")
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && aggIdx < winIdx,
      "lag taps must run over the daily rollup, not raw rows:\n" + p.take(600))
    assert(p.contains("partial_"), "daily rollup needs map-side combine")
  }

  test("graph_assortativity: equi joins only, moments partial-aggregated") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair expansion and degree joins must stay equi joins")
    assert(p.contains("partial_"), "moment sums need map-side combine")
  }

  test("graph_labelprop: per-round argmax is a sort-free max_by groupBy (r07 plan fix)") {
    // the final explain only shows the readout over the checkpointed
    // labels (each round materializes through the lineage cut), so pin
    // the ROUND plan directly: one iteration built from a toy edge table
    import org.apache.spark.sql.functions._
    val edges = spark.range(20).select((col("id") % 7).as("src"), (col("id") % 5).as("dst"))
    val labels = edges.select(col("src").as("node"), col("src").as("lab")).distinct()
    val round = edges.join(labels, col("src") === col("node"))
      .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max_by(col("lab"), struct(col("cnt"), (-col("lab")).as("neg"))).as("lab"))
    val p = round.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the win over the r06 row_number window: the argmax PARTIAL-aggregates
    // map-side (max_by's struct buffer plans as SortAggregate, but the
    // partial phase shrinks the shuffle to one row per (mapper, dst) —
    // the window shuffled and sorted EVERY (dst, label) count row)
    assert(!p.contains("Window"),
      "plurality argmax must be the max_by groupBy, not a rank window:\n" + p.take(600))
    assert(p.contains("max_by"), "expected the max_by aggregate in the round plan")
    // tree lines only ("+- Exchange (n)"); details repeat each node.
    // 2 round shuffles + 1 building the toy label table = 3.
    val exchanges = "- Exchange \\(".r.findAllIn(p).length
    assert(exchanges <= 3, s"round must shuffle at most twice, saw $exchanges:\n" + p.take(900))
    // and the production query's readout plan stays window-free
    assert(!plan("graph_labelprop").contains("Window"))
  }

  test("text_repetition: both profile passes partial-aggregate; doc joins stay equi") {
    val p = plan("text_repetition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "per-doc stat joins must stay equi joins")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "the (doc, gram) counts need map-side combine")
  }

  test("pipeline_quality_irls: coefficient attaches broadcast; sums partial-aggregate") {
    val p = plan("pipeline_quality_irls")
    assert(!p.contains("CartesianProduct"),
      "the one-row coefficient attach must broadcast, never a cartesian:\n" + p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected broadcast scalar attach")
    assert(p.contains("partial_"), "the 9 quantized sums need map-side combine")
  }

  test("agg_approx: the rank-window pass broadcasts the 3-row estimate table") {
    val p = plan("agg_approx")
    assert(p.contains("BroadcastHashJoin"),
      "estimates must broadcast back over lineitem:\n" + p.take(600))
    assert(!p.contains("percentile("),
      "exact percentile must not reappear — rank counting replaced it")
    assert(p.contains("partial_"), "conditional rank counts need map-side combine")
  }

  test("events_funnel: step filters push to the scan; step joins stay equi") {
    val p = plan("events_funnel")
    assert(p.contains("PushedFilters:") && p.contains("event_type"),
      "per-step event_type filters must reach the parquet scan")
    assert(!p.contains("CartesianProduct"), "step joins must never go cartesian")
    assert(p.contains("partial_min") || p.contains("partial_"),
      "per-user step minima need map-side combine")
  }

  test("events_retention: cohort sizes join equi; counts partial-aggregate") {
    val p = plan("events_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cohort joins must stay equi joins")
    assert(p.contains("partial_"), "cohort counts need map-side combine")
  }

  test("graph_linkpred: posting/wedge joins equi; anti join for non-edges; no cartesian") {
    val p = plan("graph_linkpred")
    assert(!p.contains("CartesianProduct"), "wedge enumeration must stay an equi join")
    assert(p.contains("LeftAnti"), "non-edge filtering must plan as an anti join")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(p.contains("partial_"), "pair weights and wedge counts need map-side combine")
  }

  test("embedding_int8_recall: both rankings are TakeOrdered, no full-table sort") {
    val p = plan("embedding_int8_recall")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "int8 and float top-20 must both plan as per-partition top-k:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), "the 1-row scale attach must broadcast")
  }

  test("window_funnel_paths: the lead window is hash-partitioned by user") {
    val p = plan("window_funnel_paths")
    assert(p.contains("hashpartitioning(user_id"),
      "path window must partition by user, never a single global window:\n" + p.take(600))
    assert(p.contains("TakeOrderedAndProject"), "top-10 paths must not globally sort")
  }

  test("events_rfm: ntile windows run over the aggregated per-user table") {
    val p = plan("events_rfm")
    // the raw events table must be reduced by a partial-combined groupBy
    // BEFORE any window touches it — windows over per-user aggregates are
    // driver-tiny by construction, windows over raw events are not
    assert(p.contains("partial_"), "per-user RFM aggregation needs map-side combine")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0, "expected ntile windows in the plan")
    assert(p.take(windowIdx).contains("HashAggregate"),
      "windows must consume the aggregated table, not raw events")
    // the monetary quartiles must go through the two-pass bucket
    // histogram: mon_cents is a per-user SUM, so its distinct-value
    // count grows ~linearly with users and a one-pass global window over
    // the value histogram is a single-task sort at 100× scale. The
    // bucket div must appear both in the pass-1 histogram grouping and
    // the pass-2 winning-bucket filters.
    assert(p.contains("div 65536"),
      "mon_cents quartiles must bucket (div 65536) before any global window")
  }

  test("text_readability: one pruned scan of documents, partial aggregation") {
    val p = plan("text_readability")
    assert(p.contains("partial_"), "per-lang stats need map-side combine")
    assert(!p.contains("doc_id"), "scan reads unprojected columns (doc_id not needed)")
    assert(!p.contains("Exchange rangepartitioning") || p.contains("TakeOrdered"),
      "the 5-row readout may sort, the corpus pass must not")
  }
}
