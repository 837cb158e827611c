package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_join, col, hex, round}
import graft.Tables._
import graft.operators._
import graft.functions.{FuncOps, UdfOps}
import graft.sources.EtlOps
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 appears as one named entry in
  * `queries`; entries with a deterministic ANSI-SQL equivalent also appear
  * in `oracleSql` (run by the driver in DuckDB over the same parquet and
  * hash-compared). Determinism rules: every query ends in a total-order
  * sort, float aggregates are rounded, timestamps are UTC.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.pricingSummary(lineitem(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2 flagship + §2.2 projection / filter / predicates
    "q1_pricing_summary" -> ((s, d) => RelationalOps.pricingSummary(lineitem(s, d))),
    "project" -> ((s, d) => RelationalOps.project(part(s, d))),
    "filter_pred" -> ((s, d) => RelationalOps.filterPred(orders(s, d))),
    "null_clean" -> ((s, d) => RelationalOps.nullClean(customer(s, d))),
    "cast_types" -> ((s, d) => RelationalOps.castTypes(lineitem(s, d))),
    "cast_safe" -> ((s, d) => RelationalOps.castSafe(orders(s, d))),
    "flatten_nested" -> ((s, d) => RelationalOps.flattenNested(orders(s, d))),
    "flatten_posexplode" -> ((s, d) => RelationalOps.flattenPosexplode(documents(s, d))),
    "distinct" -> ((s, d) => RelationalOps.distinctPairs(lineitem(s, d))),
    "sample" -> ((s, d) => RelationalOps.sample(lineitem(s, d))),
    "sample_hash" -> ((s, d) => RelationalOps.sampleHash(lineitem(s, d))),
    "sample_stratified" -> ((s, d) => RelationalOps.sampleStratified(lineitem(s, d))),
    "scan_parquet" -> ((s, d) => RelationalOps.scanParquet(supplier(s, d))),
    "empty_payload_guard" -> ((s, d) => RelationalOps.emptyPayloadGuard(lineitem(s, d))),
    // §2.3 joins
    "join_inner_hash" -> ((s, d) => JoinOps.innerHash(orders(s, d), customer(s, d))),
    "join_broadcast" -> ((s, d) => JoinOps.broadcastDims(customer(s, d), nation(s, d), region(s, d))),
    "join_sortmerge" -> ((s, d) => JoinOps.sortMerge(lineitem(s, d), orders(s, d))),
    "join_left" -> ((s, d) => JoinOps.leftOuter(customer(s, d), orders(s, d))),
    "join_right" -> ((s, d) => JoinOps.rightOuter(lineitem(s, d), part(s, d))),
    "join_full" -> ((s, d) => JoinOps.fullOuter(customer(s, d), supplier(s, d))),
    "join_left_semi" -> ((s, d) => JoinOps.leftSemi(customer(s, d), orders(s, d))),
    "join_left_anti" -> ((s, d) => JoinOps.leftAnti(customer(s, d), orders(s, d))),
    "join_cross" -> ((s, d) => JoinOps.crossJoin(region(s, d), nation(s, d))),
    "join_theta" -> ((s, d) => JoinOps.theta(nation(s, d))),
    "join_null_safe" -> ((s, d) => JoinOps.nullSafe(orders(s, d))),
    "join_range" -> ((s, d) => JoinOps.rangeBand(part(s, d))),
    "join_asof" -> ((s, d) => JoinOps.asof(events(s, d))),
    "join_asof_forward" -> ((s, d) => JoinOps.asofForward(events(s, d))),
    "join_asof_nearest" -> ((s, d) => JoinOps.asofNearest(events(s, d))),
    "join_asof_tolerance" -> ((s, d) => JoinOps.asofTolerance(events(s, d))),
    "join_bucketed" -> ((s, d) => JoinOps.bucketed(orders(s, d), customer(s, d))),
    "join_bloom_pruned" -> ((s, d) => JoinOps.joinBloomPruned(orders(s, d), lineitem(s, d))),
    "graph_pagerank" -> ((s, d) => GraphOps.graphPagerank(orders(s, d), lineitem(s, d))),
    "sink_graph_adjacency" -> ((s, d) =>
      GraphOps.sinkGraphAdjacency(s, orders(s, d), lineitem(s, d), d)),
    "graph_pagerank_stored" -> ((s, d) =>
      GraphOps.graphPagerankStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_pagerank_conv" -> ((s, d) =>
      GraphOps.graphPagerankConv(orders(s, d), lineitem(s, d))),
    "graph_triangles" -> ((s, d) => GraphOps.graphTriangles(orders(s, d), lineitem(s, d))),
    "graph_components" -> ((s, d) => GraphOps.graphComponents(orders(s, d), lineitem(s, d))),
    "graph_components_conv" -> ((s, d) =>
      GraphOps.graphComponentsConv(orders(s, d), lineitem(s, d))),
    "graph_components_stored" -> ((s, d) =>
      GraphOps.graphComponentsStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_bfs" -> ((s, d) => GraphOps.graphBfs(orders(s, d), lineitem(s, d))),
    "graph_betweenness" -> ((s, d) =>
      GraphOps.graphBetweenness(orders(s, d), lineitem(s, d))),
    "graph_betweenness_stored" -> ((s, d) =>
      GraphOps.graphBetweennessStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_closeness" -> ((s, d) =>
      GraphOps.graphCloseness(orders(s, d), lineitem(s, d))),
    "graph_closeness_stored" -> ((s, d) =>
      GraphOps.graphClosenessStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_bfs_stored" -> ((s, d) =>
      GraphOps.graphBfsStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_degree_dist" -> ((s, d) => GraphOps.degreeDist(orders(s, d), lineitem(s, d))),
    "graph_random_walk" -> ((s, d) =>
      GraphOps.graphRandomWalk(orders(s, d), lineitem(s, d))),
    "graph_random_walk_stored" -> ((s, d) =>
      GraphOps.graphRandomWalkStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_random_walk_biased" -> ((s, d) =>
      GraphOps.graphRandomWalkBiased(orders(s, d), lineitem(s, d))),
    "graph_random_walk_biased_stored" -> ((s, d) =>
      GraphOps.graphRandomWalkBiasedStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_walk_pairs" -> ((s, d) =>
      GraphOps.graphWalkPairs(orders(s, d), lineitem(s, d))),
    "pipeline_node_embed" -> ((s, d) =>
      PipelineOps.pipelineNodeEmbed(orders(s, d), lineitem(s, d))),
    "pipeline_node_embed_topk" -> ((s, d) =>
      PipelineOps.pipelineNodeEmbedTopk(orders(s, d), lineitem(s, d))),
    "pipeline_node_embed_audit" -> ((s, d) =>
      PipelineOps.pipelineNodeEmbedAudit(orders(s, d), lineitem(s, d))),
    "pipeline_node_embed_served" -> ((s, d) =>
      PipelineOps.pipelineNodeEmbedServed(s, d)),
    "pipeline_node_embed_recall" -> ((s, d) =>
      PipelineOps.pipelineNodeEmbedRecall(s, d)),
    "graph_assortativity" ->
      ((s, d) => GraphOps.graphAssortativity(orders(s, d), lineitem(s, d))),
    "graph_label_prop" -> ((s, d) => GraphOps.graphLabelProp(orders(s, d), lineitem(s, d))),
    "graph_label_prop_conv" -> ((s, d) =>
      GraphOps.graphLabelPropConv(orders(s, d), lineitem(s, d))),
    "graph_label_prop_stored" -> ((s, d) =>
      GraphOps.graphLabelPropStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_modularity" -> ((s, d) => GraphOps.graphModularity(orders(s, d), lineitem(s, d))),
    "graph_modularity_stored" -> ((s, d) =>
      GraphOps.graphModularityStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_hits" -> ((s, d) => GraphOps.graphHits(orders(s, d), lineitem(s, d))),
    "graph_hits_conv" -> ((s, d) =>
      GraphOps.graphHitsConv(orders(s, d), lineitem(s, d))),
    "graph_hits_stored" -> ((s, d) =>
      GraphOps.graphHitsStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_kcore" -> ((s, d) => GraphOps.graphKcore(orders(s, d), lineitem(s, d))),
    "graph_ktruss" -> ((s, d) => GraphOps.graphKtruss(orders(s, d), lineitem(s, d))),
    "graph_ktruss_stored" -> ((s, d) =>
      GraphOps.graphKtrussStored(s, orders(s, d), lineitem(s, d), d)),
    "sink_copurchase_layout" -> ((s, d) =>
      GraphOps.sinkCopurchaseLayout(s, orders(s, d), lineitem(s, d), d)),
    "graph_kcore_stored" -> ((s, d) =>
      GraphOps.graphKcoreStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_triangles_stored" -> ((s, d) =>
      GraphOps.graphTrianglesStored(s, orders(s, d), lineitem(s, d), d)),
    "graph_clustering_coef" -> ((s, d) =>
      GraphOps.graphClusteringCoef(s, orders(s, d), lineitem(s, d), d)),
    "graph_jaccard" -> ((s, d) => GraphOps.graphJaccard(orders(s, d), lineitem(s, d))),
    // native custom operator (logical node + strategy + partial/final exec)
    "topk_per_group_native" -> ((s, d) =>
      graft.plans.TopKOps.topKPerGroup(orders(s, d), Seq("o_orderpriority"),
          Seq(("o_totalprice", false), ("o_orderkey", false)), 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderpriority", "o_orderkey")),
    "join_skew_salted" -> ((s, d) => JoinOps.skewSalted(lineitem(s, d), orders(s, d))),
    "join_skew_aqe" -> ((s, d) => JoinOps.skewAqe(lineitem(s, d), orders(s, d))),
    "join_geo" -> ((s, d) => JoinOps.joinGeo(customer(s, d), supplier(s, d))),
    "join_interval" -> ((s, d) => JoinOps.intervalOverlap(orders(s, d))),
    "join_dpp" -> ((s, d) => JoinOps.joinDpp(s, d)),
    // composite audit pipelines (TPC-H Q3/Q5/Q10 shapes)
    "q3_shipping_priority" -> ((s, d) =>
      AuditQueries.q3ShippingPriority(customer(s, d), orders(s, d), lineitem(s, d))),
    "q5_local_supplier" -> ((s, d) =>
      AuditQueries.q5LocalSupplier(customer(s, d), orders(s, d), lineitem(s, d),
        supplier(s, d), nation(s, d), region(s, d))),
    "q10_returned_items" -> ((s, d) =>
      AuditQueries.q10ReturnedItems(customer(s, d), orders(s, d), lineitem(s, d), nation(s, d))),
    "q18_large_volume" -> ((s, d) =>
      AuditQueries.q18LargeVolume(customer(s, d), orders(s, d), lineitem(s, d))),
    "q21_waiting_supplier" -> ((s, d) =>
      AuditQueries.q21WaitingSupplier(supplier(s, d), nation(s, d),
        orders(s, d), lineitem(s, d))),
    "q6_sql_revenue" -> ((s, d) => AuditQueries.q6SqlRevenue(s, lineitem(s, d))),
    "q_subquery_scalar" -> ((s, d) => AuditQueries.qSubqueryScalar(s, orders(s, d))),
    "q_subquery_exists" -> ((s, d) =>
      AuditQueries.qSubqueryExists(s, customer(s, d), orders(s, d))),
    "q_subquery_in" -> ((s, d) => AuditQueries.qSubqueryIn(s, orders(s, d), customer(s, d))),
    "q_not_in_nulls" -> ((s, d) => AuditQueries.qNotInNulls(s, orders(s, d), customer(s, d))),
    "q_sql_udf" -> ((s, d) => AuditQueries.qSqlUdf(s, lineitem(s, d))),
    "q_sql_table_udf" -> ((s, d) => AuditQueries.qSqlTableUdf(s, orders(s, d))),
    "q_existence_join" ->
      ((s, d) => AuditQueries.qExistenceJoin(s, orders(s, d), customer(s, d))),
    "q_execute_immediate" ->
      ((s, d) => AuditQueries.qExecuteImmediate(s, orders(s, d))),
    "q14_promo_revenue" ->
      ((s, d) => AuditQueries.q14PromoRevenue(s, lineitem(s, d), part(s, d))),
    "q_null_ordering" -> ((s, d) => AuditQueries.qNullOrdering(s, orders(s, d))),
    "q17_small_qty" ->
      ((s, d) => AuditQueries.q17SmallQty(s, lineitem(s, d), part(s, d))),
    "q2_min_cost_supplier" ->
      ((s, d) => AuditQueries.q2MinCostSupplier(s, part(s, d), supplier(s, d),
        lineitem(s, d), nation(s, d), region(s, d))),
    "q20_excess_shipments" ->
      ((s, d) => AuditQueries.q20ExcessShipments(s, supplier(s, d),
        lineitem(s, d), part(s, d), nation(s, d), region(s, d))),
    "q22_global_sales" ->
      ((s, d) => AuditQueries.q22GlobalSales(s, customer(s, d), orders(s, d))),
    "q4_order_priority" ->
      ((s, d) => AuditQueries.q4OrderPriority(s, orders(s, d), lineitem(s, d))),
    "q13_customer_distribution" ->
      ((s, d) => AuditQueries.q13CustomerDistribution(s, customer(s, d),
        orders(s, d))),
    "q19_disjunctive_revenue" ->
      ((s, d) => AuditQueries.q19DisjunctiveRevenue(s, lineitem(s, d),
        part(s, d))),
    "q7_volume_shipping" ->
      ((s, d) => AuditQueries.q7VolumeShipping(s, supplier(s, d),
        lineitem(s, d), orders(s, d), customer(s, d), nation(s, d),
        region(s, d))),
    "q8_market_share" ->
      ((s, d) => AuditQueries.q8MarketShare(s, part(s, d), lineitem(s, d),
        supplier(s, d), orders(s, d), customer(s, d), nation(s, d),
        region(s, d))),
    "q15_top_supplier" ->
      ((s, d) => AuditQueries.q15TopSupplier(s, lineitem(s, d),
        supplier(s, d))),
    "q9_product_profit" ->
      ((s, d) => AuditQueries.q9ProductProfit(s, part(s, d), supplier(s, d),
        lineitem(s, d), orders(s, d), nation(s, d))),
    "q11_important_parts" ->
      ((s, d) => AuditQueries.q11ImportantParts(s, lineitem(s, d),
        supplier(s, d), nation(s, d), region(s, d))),
    "q12_shipmode_priority" ->
      ((s, d) => AuditQueries.q12ShipmodePriority(s, orders(s, d),
        lineitem(s, d))),
    "q16_supplier_counts" ->
      ((s, d) => AuditQueries.q16SupplierCounts(s, part(s, d),
        lineitem(s, d), supplier(s, d))),
    "q_cte" -> ((s, d) => AuditQueries.qCte(s, orders(s, d), customer(s, d))),
    "q_recursive_cte" -> ((s, d) => AuditQueries.qRecursiveCte(s, orders(s, d))),
    "q_window_sql" -> ((s, d) => AuditQueries.qWindowSql(s, customer(s, d))),
    "q_lateral_view" -> ((s, d) => AuditQueries.qLateralView(s, documents(s, d))),
    "q_funnel" -> ((s, d) => AuditQueries.qFunnel(events(s, d))),
    "q_cbo_stats" -> ((s, d) => AuditQueries.qCboStats(s, d)),
    "q_group_by_all" -> ((s, d) => AuditQueries.qGroupByAll(s, lineitem(s, d))),
    "q_sql_variables" -> ((s, d) => AuditQueries.qSqlVariables(s, orders(s, d))),
    "q_parameterized" -> ((s, d) => AuditQueries.qParameterized(s, orders(s, d))),
    "q_offset" -> ((s, d) => AuditQueries.qOffset(s, orders(s, d))),
    "q_select_except" -> ((s, d) => AuditQueries.qSelectExcept(s, customer(s, d))),
    "q_sql_scripting" -> ((s, d) => AuditQueries.qSqlScripting(s, orders(s, d))),
    "q_pipe_syntax" -> ((s, d) => AuditQueries.qPipeSyntax(s, orders(s, d))),
    "q_agg_filter" -> ((s, d) => AuditQueries.qAggFilter(s, lineitem(s, d))),
    "q_identifier" -> ((s, d) => AuditQueries.qIdentifier(s, orders(s, d))),
    "sql_cache_table" -> ((s, d) => AuditQueries.sqlCacheTable(s, orders(s, d))),
    "q_lateral_join" -> ((s, d) =>
      AuditQueries.qLateralJoin(s, customer(s, d), orders(s, d))),
    "fn_variant" -> ((s, d) => FuncOps.variantFns(events(s, d))),
    "fn_struct" -> ((s, d) => FuncOps.structFns(customer(s, d))),
    "fn_rounding" -> ((s, d) => FuncOps.roundingFns(orders(s, d))),
    "fn_levenshtein_bounded" ->
      ((s, d) => FuncOps.levenshteinBounded(nation(s, d))),
    "fn_url" -> ((s, d) => FuncOps.urlFns(documents(s, d))),
    "fn_collation" -> ((s, d) => FuncOps.collationFns(customer(s, d))),
    "scan_glob" -> ((s, d) => EtlOps.scanGlob(s, d)),
    // §2.4 aggregations
    "agg_hash" -> ((s, d) => AggOps.aggHash(orders(s, d))),
    "agg_global" -> ((s, d) => AggOps.aggGlobal(lineitem(s, d))),
    "agg_count_distinct" -> ((s, d) => AggOps.aggCountDistinct(lineitem(s, d))),
    "agg_approx_distinct" -> ((s, d) => AggOps.aggApproxDistinct(lineitem(s, d))),
    "agg_approx_distinct_checked" -> ((s, d) => AggOps.aggApproxDistinctChecked(lineitem(s, d))),
    "agg_percentile_approx" -> ((s, d) => AggOps.aggPercentileApprox(lineitem(s, d))),
    "agg_sketch_rollup" -> ((s, d) => AggOps.aggSketchRollup(events(s, d))),
    "agg_retention" -> ((s, d) => AggOps.aggRetention(events(s, d))),
    "events_funnel" -> ((s, d) => AggOps.eventsFunnel(events(s, d))),
    "events_retention" -> ((s, d) => AggOps.eventsRetention(events(s, d))),
    "events_transitions" -> ((s, d) => AggOps.eventsTransitions(events(s, d))),
    "events_markov_stationary" ->
      ((s, d) => AggOps.eventsMarkovStationary(events(s, d))),
    "events_rfm" -> ((s, d) => AggOps.eventsRfm(events(s, d))),
    "events_rfm_census" -> ((s, d) => AggOps.eventsRfmCensus(events(s, d))),
    "agg_bootstrap_ci" -> ((s, d) => AggOps.aggBootstrapCi(orders(s, d))),
    "text_novelty" -> ((s, d) => TextOps.textNovelty(documents(s, d))),
    "agg_rolling_distinct" -> ((s, d) => AggOps.aggRollingDistinct(events(s, d))),
    "agg_ewma" -> ((s, d) => AggOps.aggEwma(events(s, d))),
    "agg_bitmap_distinct" -> ((s, d) => AggOps.aggBitmapDistinct(lineitem(s, d))),
    "agg_count_if" -> ((s, d) => AggOps.aggCountIf(lineitem(s, d))),
    "agg_argmax" -> ((s, d) => AggOps.aggArgmax(lineitem(s, d))),
    "agg_unpivot" -> ((s, d) => AggOps.aggUnpivot(lineitem(s, d))),
    "q_pivot_sql" -> ((s, d) => AuditQueries.qPivotSql(s, lineitem(s, d))),
    "q_unpivot_sql" -> ((s, d) => AuditQueries.qUnpivotSql(s, lineitem(s, d))),
    "agg_stats" -> ((s, d) => AggOps.aggStats(lineitem(s, d))),
    "agg_median" -> ((s, d) => AggOps.aggMedian(lineitem(s, d))),
    "agg_mode" -> ((s, d) => AggOps.aggMode(lineitem(s, d))),
    "agg_corr" -> ((s, d) => AggOps.aggCorr(lineitem(s, d))),
    "agg_regression" -> ((s, d) => AggOps.aggRegression(lineitem(s, d))),
    "agg_weighted_stats" -> ((s, d) => AggOps.aggWeightedStats(lineitem(s, d))),
    "agg_ab_test" -> ((s, d) => AggOps.aggAbTest(events(s, d))),
    "agg_percentile_disc" -> ((s, d) => AggOps.aggPercentileDisc(lineitem(s, d))),
    "agg_benford" -> ((s, d) => AggOps.aggBenford(orders(s, d))),
    "agg_ks_test" -> ((s, d) => AggOps.aggKsTest(events(s, d))),
    "agg_pivot_multi" -> ((s, d) => AggOps.aggPivotMulti(lineitem(s, d))),
    "agg_gini" -> ((s, d) => AggOps.aggGini(documents(s, d))),
    "agg_chi2" -> ((s, d) => AggOps.aggChi2(lineitem(s, d))),
    "agg_skew_kurt" -> ((s, d) => AggOps.aggSkewKurt(lineitem(s, d))),
    "agg_quantiles" -> ((s, d) => AggOps.aggQuantiles(lineitem(s, d))),
    "agg_hll_sketch" -> ((s, d) => AggOps.aggHllSketch(lineitem(s, d))),
    "agg_theta_sketch" -> ((s, d) => AggOps.aggThetaSketch(lineitem(s, d))),
    "agg_approx_topk_checked" -> ((s, d) => AggOps.aggApproxTopK(events(s, d))),
    "agg_product" -> ((s, d) => AggOps.aggProduct(lineitem(s, d))),
    "agg_histogram" -> ((s, d) => AggOps.aggHistogram(lineitem(s, d))),
    // Array columns stringified at the query boundary: the driver's pandas
    // compare can't hash ndarray cells. AggOps.aggCollect keeps true arrays.
    "agg_collect" -> ((s, d) =>
      AggOps.aggCollect(nation(s, d))
        .withColumn("nations", array_join(col("nations"), ","))
        .withColumn("nation_keys", array_join(col("nation_keys"), ","))),
    "agg_first_last" -> ((s, d) => AggOps.aggFirstLast(orders(s, d))),
    "agg_rollup" -> ((s, d) => AggOps.aggRollup(lineitem(s, d))),
    "agg_cube" -> ((s, d) => AggOps.aggCube(lineitem(s, d))),
    "agg_grouping_sets" -> ((s, d) => AggOps.aggGroupingSets(orders(s, d))),
    "agg_pivot" -> ((s, d) => AggOps.aggPivot(lineitem(s, d))),
    // §2.5 windows
    "win_row_number" -> ((s, d) => WindowOps.rowNumberLatest(events(s, d))),
    "win_rank_dense" -> ((s, d) => WindowOps.rankDense(part(s, d))),
    "win_lag_lead" -> ((s, d) => WindowOps.lagLead(events(s, d))),
    "win_running" -> ((s, d) => WindowOps.running(events(s, d))),
    "win_sliding_frame" -> ((s, d) => WindowOps.slidingFrame(events(s, d))),
    "win_range_frame" -> ((s, d) => WindowOps.rangeFrame(events(s, d))),
    "win_topk_per_group" -> ((s, d) => WindowOps.topkPerGroup(orders(s, d))),
    "win_value_fns" -> ((s, d) => WindowOps.valueFns(part(s, d))),
    "win_sessionize" -> ((s, d) => WindowOps.sessionize(events(s, d))),
    "win_session_gap_sweep" ->
      ((s, d) => WindowOps.winSessionGapSweep(events(s, d))),
    "agg_bootstrap_ci_grouped" ->
      ((s, d) => AggOps.aggBootstrapCiGrouped(orders(s, d))),
    "win_streak" -> ((s, d) => WindowOps.winStreak(events(s, d))),
    "win_gap_fill" -> ((s, d) => WindowOps.gapFill(events(s, d))),
    "win_interpolate" -> ((s, d) => WindowOps.winInterpolate(events(s, d))),
    "stream_anomaly" -> ((s, d) => StreamOps.streamAnomaly(s, d)),
    "stream_seasonal" -> ((s, d) => StreamOps.streamSeasonal(s, d)),
    "stream_cusum" -> ((s, d) => StreamOps.streamCusum(s, d)),
    "stream_holt" -> ((s, d) => StreamOps.streamHolt(s, d)),
    "stream_funnel" -> ((s, d) => StreamOps.streamFunnel(s, d)),
    "stream_transitions" -> ((s, d) => StreamOps.streamTransitions(s, d)),
    "stream_funnel_ooo" -> ((s, d) => StreamOps.streamFunnelOoo(s, d)),
    "stream_transitions_ooo" -> ((s, d) => StreamOps.streamTransitionsOoo(s, d)),
    "ts_holt_forecast" -> ((s, d) => QualityOps.tsHoltForecast(events(s, d))),
    "quality_report" -> ((s, d) => QualityOps.qualityReport(
      orders(s, d), customer(s, d), lineitem(s, d), events(s, d))),
    "sim_rp_width_sweep" -> ((s, d) => SimOps.simRpWidthSweep(embeddings(s, d))),
    "agg_histogram_quantile" -> ((s, d) => AggOps.aggHistogramQuantile(orders(s, d))),
    "agg_histogram_quantile_grouped" -> ((s, d) =>
      AggOps.aggHistogramQuantileGrouped(orders(s, d))),
    "win_pct_change" -> ((s, d) => WindowOps.pctChange(events(s, d))),
    "win_rolling_regression" ->
      ((s, d) => WindowOps.winRollingRegression(events(s, d))),
    "win_attribution" -> ((s, d) => WindowOps.winAttribution(events(s, d))),
    "win_mad_outlier" -> ((s, d) => WindowOps.winMadOutlier(events(s, d))),
    "win_ntile" -> ((s, d) => WindowOps.ntileBands(orders(s, d))),
    "win_median_sliding" -> ((s, d) => WindowOps.medianSliding(events(s, d))),
    "win_distinct_sliding" -> ((s, d) => WindowOps.distinctSliding(events(s, d))),
    "q_named_window" -> ((s, d) => AuditQueries.qNamedWindow(s, orders(s, d))),
    // §2.6 sorts / limits / top-k
    "sort" -> ((s, d) => SortSetOps.sortGlobal(orders(s, d))),
    "limit" -> ((s, d) => SortSetOps.limitPage(orders(s, d))),
    "topk" -> ((s, d) => SortSetOps.topk(orders(s, d))),
    "sort_within_partitions" -> ((s, d) => SortSetOps.sortWithinPartitions(lineitem(s, d))),
    // §2.7 set operations
    "union" -> ((s, d) => SortSetOps.unionLoads(orders(s, d))),
    "union_evolved" -> ((s, d) => SortSetOps.unionEvolved(orders(s, d))),
    "intersect" -> ((s, d) => SortSetOps.intersectLoads(customer(s, d))),
    "except" -> ((s, d) => SortSetOps.exceptLoads(orders(s, d))),
    "except_all" -> ((s, d) => SortSetOps.exceptAllLoads(orders(s, d))),
    "intersect_all" -> ((s, d) => SortSetOps.intersectAllLoads(orders(s, d))),
    // §2.8 scalar function families
    "fn_string" -> ((s, d) => FuncOps.stringFns(documents(s, d))),
    "fn_datetime" -> ((s, d) => FuncOps.datetimeFns(orders(s, d))),
    "fn_math" -> ((s, d) => FuncOps.mathFns(lineitem(s, d))),
    "fn_try" -> ((s, d) => FuncOps.tryFns(lineitem(s, d))),
    "fn_conditional" -> ((s, d) => FuncOps.conditionalFns(customer(s, d))),
    // Same stringification rule as agg_collect (driver-stable scalars only).
    "fn_array" -> ((s, d) =>
      FuncOps.arrayFns(documents(s, d))
        .withColumn("first3_sorted", array_join(col("first3_sorted"), ","))
        .withColumn("vocab", array_join(col("vocab"), ","))),
    "fn_map" -> ((s, d) =>
      FuncOps.mapFns(events(s, d))
        .withColumn("ks", array_join(col("ks"), ","))
        .withColumn("vs", array_join(col("vs"), ","))),
    "fn_json" -> ((s, d) => FuncOps.jsonFns(events(s, d))),
    "fn_hash" -> ((s, d) => FuncOps.hashFns(documents(s, d))),
    "fn_bitwise" -> ((s, d) => FuncOps.bitwiseFns(lineitem(s, d))),
    "fn_fuzzy" -> ((s, d) => FuncOps.fuzzyFns(documents(s, d))),
    "fn_regexp" -> ((s, d) => FuncOps.regexpFns(documents(s, d))),
    "fn_aes" -> ((s, d) => FuncOps.aesFns(documents(s, d))),
    "fn_xpath" -> ((s, d) => FuncOps.xpathFns(orders(s, d))),
    "fn_luhn" -> ((s, d) => FuncOps.validationFns(orders(s, d))),
    "fn_listagg" -> ((s, d) => FuncOps.listaggFns(documents(s, d))),
    "fn_mask" -> ((s, d) => FuncOps.maskFns(documents(s, d))),
    "fn_encoding" -> ((s, d) => FuncOps.encodingFns(documents(s, d))),
    // §2.11 [EXT] LLM-data-pipeline operators
    "dedup_exact" -> ((s, d) => LlmOps.dedupExact(documents(s, d))),
    "dedup_paragraph" -> ((s, d) => LlmOps.dedupParagraph(documents(s, d))),
    "dedup_near" -> ((s, d) => LlmOps.dedupNear(documents(s, d))),
    "dedup_near_recall" -> ((s, d) => LlmOps.dedupNearRecall(documents(s, d))),
    "dedup_near_pruned" -> ((s, d) => LlmOps.dedupNearPruned(documents(s, d))),
    "dedup_incremental" -> ((s, d) => LlmOps.dedupIncremental(s, d)),
    "dedup_clusters" -> ((s, d) => LlmOps.dedupClusters(documents(s, d))),
    "dedup_keep_best" -> ((s, d) => LlmOps.dedupKeepBest(documents(s, d))),
    "dedup_threshold_sweep" ->
      ((s, d) => LlmOps.dedupThresholdSweep(documents(s, d))),
    "dedup_normalized" -> ((s, d) => LlmOps.dedupNormalized(documents(s, d))),
    "sim_topk" -> ((s, d) => LlmOps.simTopk(embeddings(s, d))),
    "sim_join" -> ((s, d) => LlmOps.simJoin(embeddings(s, d))),
    "text_tokens" -> ((s, d) => LlmOps.textTokens(documents(s, d))),
    "text_stats" -> ((s, d) => LlmOps.textStats(documents(s, d))),
    // Binary payload hex-encoded at the boundary (bytearray is unhashable
    // in the driver's compare); LlmOps.multimodalCols keeps true BinaryType.
    "multimodal_cols" -> ((s, d) =>
      LlmOps.multimodalCols(documents(s, d), embeddings(s, d))
        .withColumn("payload", hex(col("payload")))),
    "dedup_binary" -> ((s, d) =>
      LlmOps.dedupBinary(documents(s, d), embeddings(s, d))),
    "multimodal_decode" -> ((s, d) => LlmOps.multimodalDecode(documents(s, d))),
    "multimodal_decode_wav" -> ((s, d) => LlmOps.multimodalDecodeWav(documents(s, d))),
    "multimodal_audio_features" ->
      ((s, d) => LlmOps.multimodalAudioFeatures(documents(s, d))),
    "multimodal_image_features" ->
      ((s, d) => LlmOps.multimodalImageFeatures(documents(s, d))),
    "multimodal_decode_ppm" -> ((s, d) => LlmOps.multimodalDecodePpm(documents(s, d))),
    "multimodal_ingest_decode" -> ((s, d) => LlmOps.multimodalIngestDecode(s, d)),
    "multimodal_framesample" -> ((s, d) => LlmOps.multimodalFramesample(documents(s, d))),
    "multimodal_resize" -> ((s, d) => LlmOps.multimodalResize(documents(s, d))),
    "text_containment" -> ((s, d) => SimOps.textContainment(documents(s, d))),
    "join_fuzzy" -> ((s, d) => SimOps.joinFuzzy(documents(s, d))),
    // §2.1 sources / sinks (ETL core)
    "scan_json" -> ((s, d) => EtlOps.scanJson(s, d)),
    "scan_csv" -> ((s, d) => EtlOps.scanCsv(s, d)),
    "scan_orc" -> ((s, d) => EtlOps.scanOrc(s, d)),
    "scan_xml" -> ((s, d) => EtlOps.scanXml(s, d)),
    "scan_binary" -> ((s, d) => EtlOps.scanBinary(s, d)),
    "scan_csv_quoted" -> ((s, d) => EtlOps.scanCsvQuoted(s, d)),
    "scan_observed" -> ((s, d) => EtlOps.scanObserved(s, d)),
    "scan_text" -> ((s, d) => EtlOps.scanText(s, d)),
    "source_api_paginated" -> ((s, d) => EtlOps.sourceApiPaginated(s, d)),
    "source_api_circuit_breaker" -> ((s, d) =>
      EtlOps.sourceApiCircuitBreaker(s, d)),
    "source_api_retry" -> ((s, d) => EtlOps.sourceApiRetry(s, d)),
    "source_api_v2" -> ((s, d) => EtlOps.sourceApiV2(s, d)),
    "source_env_config" -> ((s, d) => EtlOps.sourceConfigured(s, d)),
    "source_api_auth" -> ((s, d) => EtlOps.sourceApiAuth(s, d)),
    "source_api_ratelimit" -> ((s, d) => EtlOps.sourceApiRatelimit(s, d)),
    "scan_json_corrupt" -> ((s, d) => EtlOps.scanJsonCorrupt(s, d)),
    "scan_file_metadata" -> ((s, d) => EtlOps.scanFileMetadata(s, d)),
    "scan_csv_malformed" -> ((s, d) => EtlOps.scanCsvMalformed(s, d)),
    "scan_merge_schema" -> ((s, d) => EtlOps.scanMergeSchema(s, d)),
    "sink_raw_append" -> ((s, d) => EtlOps.sinkRawAppend(s, d)),
    "sink_upsert" -> ((s, d) => EtlOps.sinkUpsert(s, d)),
    "sink_scd2" -> ((s, d) => EtlOps.sinkScd2(s, d)),
    "sink_cdc_apply" -> ((s, d) => EtlOps.sinkCdcApply(events(s, d))),
    "sink_doc_shape" -> ((s, d) => EtlOps.sinkDocShape(s, d)),
    "sql_merge_into" -> ((s, d) => EtlOps.sqlMergeInto(s, d)),
    "sql_update" -> ((s, d) => EtlOps.sqlUpdate(s, d)),
    "sql_delete" -> ((s, d) => EtlOps.sqlDelete(s, d)),
    "sql_time_travel" -> ((s, d) => EtlOps.sqlTimeTravel(s, d)),
    "sql_changefeed" -> ((s, d) => EtlOps.sqlChangefeed(s, d)),
    "sql_insert_overwrite" -> ((s, d) => EtlOps.sqlInsertOverwrite(s, d)),
    "sql_ctas" -> ((s, d) => EtlOps.sqlCtas(s, d)),
    "sql_alter_evolve" -> ((s, d) => EtlOps.sqlAlterEvolve(s, d)),
    "sql_time_travel_ts" -> ((s, d) => EtlOps.sqlTimeTravelTs(s, d)),
    "join_storage_partitioned" -> ((s, d) => EtlOps.joinStoragePartitioned(s, d)),
    "sink_compact" -> ((s, d) => EtlOps.sinkCompact(s, d)),
    "sink_manifest_commit" -> ((s, d) => EtlOps.sinkManifestCommit(s, d)),
    "scan_parquet_bloom" -> ((s, d) => EtlOps.scanParquetBloom(s, d)),
    "scan_csv_multidelim" -> ((s, d) => EtlOps.scanCsvMultidelim(s, d)),
    "scan_corrupt_files_skip" -> ((s, d) => EtlOps.scanCorruptFilesSkip(s, d)),
    "sink_vacuum" -> ((s, d) => EtlOps.sinkVacuum(s, d)),
    "sink_jsonl" -> ((s, d) => EtlOps.sinkJsonl(s, d)),
    "sink_retention" -> ((s, d) => EtlOps.sinkRetention(s, d)),
    "sink_incremental" -> ((s, d) => EtlOps.sinkIncremental(s, d)),
    "sink_agg_refresh" -> ((s, d) => EtlOps.sinkAggRefresh(s, d)),
    "scan_constraints" -> ((s, d) => EtlOps.scanConstraints(lineitem(s, d), orders(s, d))),
    "sink_partitioned" -> ((s, d) => EtlOps.sinkPartitioned(s, d)),
    "sink_zorder" -> ((s, d) => EtlOps.sinkZorder(s, d)),
    // §2.9 streaming (Structured Streaming drained through a memory sink;
    // deterministic results are oracle-paired = batch-equivalence check)
    "stream_source" -> ((s, d) => StreamOps.streamSource(s, d)),
    "stream_tumbling" -> ((s, d) => StreamOps.streamTumbling(s, d)),
    "stream_sliding" -> ((s, d) => StreamOps.streamSliding(s, d)),
    "stream_session" -> ((s, d) => StreamOps.streamSession(s, d)),
    "stream_watermark" -> ((s, d) => StreamOps.streamWatermark(s, d)),
    "stream_dedup" -> ((s, d) => StreamOps.streamDedup(s, d)),
    "stream_dedup_near" -> ((s, d) => StreamOps.streamDedupNear(s, d)),
    "stream_dedup_near_verified" -> ((s, d) => StreamOps.streamDedupNearVerified(s, d)),
    "stream_stateful" -> ((s, d) => StreamOps.streamStateful(s, d)),
    "stream_stateful_v2" -> ((s, d) => StreamOps.streamStatefulV2(s, d)),
    "stream_timer_sessions" -> ((s, d) => StreamOps.streamTimerSessions(s, d)),
    "stream_recent_events" -> ((s, d) => StreamOps.streamRecentEvents(s, d)),
    "stream_type_counts" -> ((s, d) => StreamOps.streamTypeCounts(s, d)),
    "stream_sink" -> ((s, d) => StreamOps.streamSink(s, d)),
    "stream_join" -> ((s, d) => StreamOps.streamJoin(s, d)),
    "stream_stream_join" -> ((s, d) => StreamOps.streamStreamJoin(s, d)),
    "stream_outer_join" -> ((s, d) => StreamOps.streamOuterJoin(s, d)),
    "stream_throttled" -> ((s, d) => StreamOps.streamThrottled(s, d)),
    "stream_recovery" -> ((s, d) => StreamOps.streamRecovery(s, d)),
    "stream_state_inspect" -> ((s, d) => StreamOps.streamStateInspect(s, d)),
    "stream_upsert" -> ((s, d) => StreamOps.streamUpsert(s, d)),
    "stream_merge" -> ((s, d) => StreamOps.streamMerge(s, d)),
    "stream_ann_ingest" -> ((s, d) => SimOps.streamAnnIngest(s, d)),
    "stream_ann_search" -> ((s, d) => SimOps.streamAnnSearch(s, d)),
    // §2.10 UDF / UDAF / UDTF extension surface
    "udf_scalar" -> ((s, d) => UdfOps.udfScalar(documents(s, d))),
    "udaf_aggregator" -> ((s, d) => UdfOps.udafAggregator(orders(s, d))),
    "udtf_generator" -> ((s, d) => UdfOps.udtfGenerator(documents(s, d))),
    // [EXT] training-pipeline text analysis
    "text_langid" -> ((s, d) => TextOps.textLangid(documents(s, d))),
    "text_langid_confusion" ->
      ((s, d) => TextOps.textLangidConfusion(documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.textQuality(documents(s, d))),
    "text_tokens_regex" -> ((s, d) => TextOps.textTokensRegex(documents(s, d))),
    "text_tfidf" -> ((s, d) => TextOps.textTfidf(documents(s, d))),
    "text_pii_mask" -> ((s, d) => TextOps.textPiiMask(documents(s, d))),
    "text_fingerprint" -> ((s, d) => TextOps.textFingerprint(documents(s, d))),
    "text_boilerplate" -> ((s, d) => TextOps.textBoilerplate(documents(s, d))),
    "text_bigram_lm" -> ((s, d) => TextOps.textBigramLm(documents(s, d))),
    "text_perplexity_filter" ->
      ((s, d) => TextOps.textPerplexityFilter(documents(s, d))),
    "text_code_detect" -> ((s, d) => TextOps.textCodeDetect(documents(s, d))),
    "text_repetition" -> ((s, d) => TextOps.textRepetition(documents(s, d))),
    "text_entropy" -> ((s, d) => TextOps.textEntropy(documents(s, d))),
    "text_decontaminate" -> ((s, d) => TextOps.textDecontaminate(documents(s, d))),
    "text_heavy_hitters" -> ((s, d) => TextOps.textHeavyHitters(documents(s, d))),
    "text_heavy_hitters_grouped" ->
      ((s, d) => TextOps.textHeavyHittersGrouped(documents(s, d))),
    "q_sql_hints" -> ((s, d) => AuditQueries.qSqlHints(s, orders(s, d), customer(s, d))),
    // [EXT] dedup & similarity variants
    "dedup_simhash" -> ((s, d) => SimOps.dedupSimhash(documents(s, d))),
    "dedup_image_phash" -> ((s, d) => LlmOps.dedupImagePhash(documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => SimOps.dedupNgramJaccard(documents(s, d))),
    "dedup_embedding" -> ((s, d) => SimOps.dedupEmbedding(SimOps.plantNearDups(embeddings(s, d)))),
    "sim_ivf" -> ((s, d) => SimOps.simIvf(embeddings(s, d))),
    "sim_ann_filtered" -> ((s, d) => SimOps.simAnnFiltered(embeddings(s, d))),
    "sim_bitext" -> ((s, d) => SimOps.simBitext(embeddings(s, d))),
    "sim_ivf_recall" -> ((s, d) => SimOps.simIvfRecall(embeddings(s, d))),
    "sim_ivf_recall_curve" -> ((s, d) => SimOps.simIvfRecallCurve(embeddings(s, d))),
    "sim_ivf_nprobe_sweep" -> ((s, d) => SimOps.simIvfNprobeSweep(embeddings(s, d))),
    "sim_hybrid_rrf" ->
      ((s, d) => SimOps.simHybridRrf(documents(s, d), embeddings(s, d))),
    "sim_maxsim" -> ((s, d) => SimOps.simMaxSim(embeddings(s, d))),
    "sim_ivf_kmeans" -> ((s, d) => SimOps.simIvfKmeans(embeddings(s, d))),
    "sink_ann_index" -> ((s, d) => SimOps.sinkAnnIndex(s, d)),
    "sim_kmeans" -> ((s, d) => SimOps.simKmeans(embeddings(s, d))),
    "sim_pca_train" -> ((s, d) => SimOps.simPcaTrain(embeddings(s, d))),
    "sim_eval_rank" -> ((s, d) => SimOps.simEvalRank(embeddings(s, d))),
    "sim_eval_rank_sweep" ->
      ((s, d) => SimOps.simEvalRankSweep(embeddings(s, d))),
    "sim_pca_train2" -> ((s, d) => SimOps.simPcaTrain2(embeddings(s, d))),
    "sink_pca_layout" -> ((s, d) => SimOps.sinkPcaLayout(s, embeddings(s, d), d)),
    "sim_pca_project2d" -> ((s, d) => SimOps.simPcaProject2d(embeddings(s, d))),
    "pipeline_coreset" -> ((s, d) => SimOps.simCoreset(embeddings(s, d))),
    "sim_pca_project" -> ((s, d) => SimOps.simPcaProject(embeddings(s, d))),
    "sim_pca_explained" -> ((s, d) => SimOps.simPcaExplained(embeddings(s, d))),
    "dedup_semantic" -> ((s, d) => SimOps.dedupSemantic(SimOps.plantNearDups(embeddings(s, d)))),
    "pipeline_pretrain" -> ((s, d) => LlmOps.pipelinePretrain(documents(s, d))),
    "pipeline_pretrain_v2" -> ((s, d) => PipelineOps.pipelinePretrainV2(documents(s, d))),
    "pipeline_pack" -> ((s, d) => PipelineOps.pipelinePack(documents(s, d))),
    "pipeline_pack_sweep" ->
      ((s, d) => PipelineOps.pipelinePackSweep(documents(s, d))),
    "pipeline_quality_classifier" ->
      ((s, d) => PipelineOps.pipelineQualityClassifier(documents(s, d))),
    "pipeline_dsir" -> ((s, d) => PipelineOps.pipelineDsir(documents(s, d))),
    "pipeline_dsir_resample" ->
      ((s, d) => PipelineOps.pipelineDsirResample(documents(s, d))),
    "pipeline_classifier_calibration" ->
      ((s, d) => PipelineOps.pipelineClassifierCalibration(documents(s, d))),
    "pipeline_mix" -> ((s, d) => PipelineOps.pipelineMix(documents(s, d))),
    "pipeline_split" -> ((s, d) => PipelineOps.pipelineSplit(documents(s, d))),
    "pipeline_length_buckets" ->
      ((s, d) => PipelineOps.pipelineLengthBuckets(documents(s, d))),
    "pipeline_epoch_shuffle" ->
      ((s, d) => PipelineOps.pipelineEpochShuffle(documents(s, d))),
    "pipeline_leakage_audit" ->
      ((s, d) => PipelineOps.pipelineLeakageAudit(documents(s, d))),
    "pipeline_curriculum" -> ((s, d) => PipelineOps.pipelineCurriculum(documents(s, d))),
    "pipeline_span_corruption" ->
      ((s, d) => PipelineOps.pipelineSpanCorruption(documents(s, d))),
    "pipeline_span_render" ->
      ((s, d) => PipelineOps.pipelineSpanRender(documents(s, d))),
    "pipeline_shard_manifest" ->
      ((s, d) => PipelineOps.pipelineShardManifest(documents(s, d))),
    "pipeline_dataset_card" ->
      ((s, d) => PipelineOps.datasetCard(documents(s, d))),
    "pipeline_preference_pairs" ->
      ((s, d) => PipelineOps.preferencePairs(documents(s, d))),
    "pipeline_sft_format" -> ((s, d) => PipelineOps.sftFormat(documents(s, d))),
    "pipeline_epoch_plan" -> ((s, d) => PipelineOps.epochPlan(documents(s, d))),
    "pipeline_bpe_train" ->
      ((s, d) => PipelineOps.pipelineBpeTrain(documents(s, d))),
    "pipeline_bpe_apply" ->
      ((s, d) => PipelineOps.pipelineBpeApply(documents(s, d))),
    "pipeline_fertility" ->
      ((s, d) => PipelineOps.pipelineFertility(documents(s, d))),
    "pipeline_wordpiece_train" ->
      ((s, d) => PipelineOps.pipelineWordpieceTrain(documents(s, d))),
    "pipeline_wordpiece_apply" ->
      ((s, d) => PipelineOps.pipelineWordpieceApply(documents(s, d))),
    "pipeline_wordpiece_fertility" ->
      ((s, d) => PipelineOps.pipelineWordpieceFertility(documents(s, d))),
    "text_chunk" -> ((s, d) => PipelineOps.textChunk(documents(s, d))),
    "dedup_url" -> ((s, d) => PipelineOps.dedupUrl(documents(s, d))),
    "sim_mips" -> ((s, d) => SimOps.simMips(embeddings(s, d))),
    "sim_join_bucketed" -> ((s, d) => SimOps.simJoinBucketed(embeddings(s, d))),
    "sim_quantized" -> ((s, d) => SimOps.simQuantized(embeddings(s, d))),
    "sim_rerank" -> ((s, d) => SimOps.simRerank(embeddings(s, d))),
    "sim_matryoshka" -> ((s, d) => SimOps.simMatryoshka(embeddings(s, d))),
    "sim_knn_graph" -> ((s, d) => SimOps.simKnnGraph(embeddings(s, d))),
    "sim_ivf_pq" -> ((s, d) => SimOps.simIvfPq(embeddings(s, d))),
    "sim_knn_graph_recall" -> ((s, d) => SimOps.simKnnGraphRecall(embeddings(s, d))),
    "sim_knn_cluster" -> ((s, d) => SimOps.simKnnCluster(embeddings(s, d))),
    "sink_knn_graph" -> ((s, d) => SimOps.sinkKnnGraph(s, embeddings(s, d), d)),
    "sink_knn_graph_incremental" -> ((s, d) =>
      SimOps.sinkKnnGraphIncremental(s, embeddings(s, d), d)),
    "sink_knn_graph_refresh" -> ((s, d) =>
      SimOps.sinkKnnGraphRefresh(s, embeddings(s, d), d)),
    "sim_knn_cluster_stored" -> ((s, d) =>
      SimOps.simKnnClusterStored(s, embeddings(s, d), d)),
    "pipeline_hard_negatives_stored" -> ((s, d) =>
      SimOps.pipelineHardNegativesStored(s, embeddings(s, d), d)),
    "pipeline_hard_negatives" -> ((s, d) =>
      SimOps.pipelineHardNegatives(embeddings(s, d))),
    "sim_ood_detect" -> ((s, d) => SimOps.simOodDetect(embeddings(s, d))),
    "sim_pq" -> ((s, d) => SimOps.simPq(embeddings(s, d))),
    "sim_pq_kmeans" -> ((s, d) => SimOps.simPqKmeans(embeddings(s, d))),
    "sim_radius" -> ((s, d) => SimOps.simRadius(embeddings(s, d))),
    "dedup_substring" -> ((s, d) => LlmOps.dedupSubstring(documents(s, d))),
    // [EXT] data-quality / validation suite (r12): expectations, profile
    // diff, distribution drift, freshness — the reference's validation
    // stage (README.md:31-33) as declarative audits
    "quality_expectations" -> ((s, d) =>
      QualityOps.qualityExpectations(orders(s, d), customer(s, d), lineitem(s, d))),
    "quality_profile_diff" -> ((s, d) => QualityOps.qualityProfileDiff(orders(s, d))),
    "quality_drift_psi" -> ((s, d) => QualityOps.qualityDriftPsi(orders(s, d))),
    "quality_freshness" -> ((s, d) => QualityOps.qualityFreshness(events(s, d))),
    "quality_anomaly" -> ((s, d) => QualityOps.qualityAnomaly(events(s, d))),
    "ts_seasonal_decompose" ->
      ((s, d) => QualityOps.tsSeasonalDecompose(events(s, d))),
    "quality_cusum" -> ((s, d) => QualityOps.qualityCusum(events(s, d))),
    "ts_holt" -> ((s, d) => QualityOps.tsHolt(events(s, d))),
    "quality_anomaly_grouped" ->
      ((s, d) => QualityOps.qualityAnomalyGrouped(events(s, d))),
    "events_funnel_summary" ->
      ((s, d) => AggOps.eventsFunnelSummary(events(s, d))),
    "events_funnel_sweep" ->
      ((s, d) => AggOps.eventsFunnelSweep(events(s, d))),
    "text_zipf_audit" -> ((s, d) => TextOps.textZipfAudit(documents(s, d))),
    "q_pareto_skyline" -> ((s, d) => SortSetOps.paretoSkyline(orders(s, d))),
    // [EXT] r12: BM25 retrieval scoring, weighted reservoir sampling,
    // JL random projection + its neighbor-preservation audit
    "text_bm25" -> ((s, d) => TextOps.textBm25(documents(s, d))),
    "text_hashing_trick" -> ((s, d) => TextOps.textHashingTrick(documents(s, d))),
    "sample_weighted" -> ((s, d) => RelationalOps.sampleWeighted(orders(s, d))),
    "sim_random_projection" -> ((s, d) => SimOps.simRandomProjection(embeddings(s, d))),
    "sim_rp_recall" -> ((s, d) => SimOps.simRpRecall(embeddings(s, d))),
    "stream_quality" -> ((s, d) => StreamOps.streamQuality(s, d)),
    "pipeline_unigram_lm" -> ((s, d) => PipelineOps.pipelineUnigramLm(documents(s, d))),
    "pipeline_unigram_fertility" -> ((s, d) =>
      PipelineOps.pipelineUnigramFertility(documents(s, d))),
    "sink_quality_gate" -> ((s, d) => EtlOps.sinkQualityGate(s, d)),
    "sim_rp_rerank" -> ((s, d) => SimOps.simRpRerank(embeddings(s, d))),
    "pipeline_unigram_apply" -> ((s, d) =>
      PipelineOps.pipelineUnigramApply(documents(s, d))),
  )

  /** The sim_ivf ranking in DuckDB — shared verbatim by the sim_ivf
    * entry and the recall audit that wraps it as a CTE.
    */
  private val simIvfOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY round(list_dot_product(v, cv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                 DESC, cid) AS rn
             FROM e CROSS JOIN c),
       asn AS (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       p AS (SELECT cid AS cell FROM c CROSS JOIN q
             ORDER BY round(list_dot_product(cv, qv) /
               (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
               DESC, cid LIMIT 4)
       SELECT vec_id, round(list_dot_product(v, qv) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
       FROM asn JOIN p USING(cell) CROSS JOIN q
       ORDER BY cos DESC, vec_id LIMIT 10"""

  /** Unrolled-round BPE oracle: word counts once, then per round the
    * weighted pair counts, the lexicographically tie-broken argmax, and
    * a RECURSIVE leftmost-first merge application (first-match
    * regexp_replace + rescan-from-start ≡ the engine's greedy left fold
    * — a merge can't enable an earlier match because the merged symbol
    * differs from both pattern symbols; see PipelineOps.pipelineBpeTrain).
    */
  private def bpeOracle(rounds: Int): String =
    s"""${bpeCtes(rounds)}
       ${(1 to rounds).map(r =>
        s"SELECT $r AS round, a AS sym_a, b AS sym_b, a || b AS merged, cnt FROM b$r")
        .mkString("\n UNION ALL ")} ORDER BY round"""

  /** The apply-side census over the same CTE chain: per-doc whitespace
    * vs post-merge BPE token counts (sum of final symbol counts).
    */
  private def bpeApplyOracle(rounds: Int): String =
    s"""${bpeCtes(rounds)},
       v AS (SELECT w, len(str_split(trim(seq), ' '))::BIGINT AS n_sym
             FROM s$rounds),
       d AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
       SELECT doc_id, count(*) AS n_ws, CAST(sum(n_sym) AS BIGINT) AS n_bpe
       FROM d JOIN v USING (w) WHERE len(w) > 0
       GROUP BY doc_id ORDER BY doc_id"""

  /** WordPiece CTE chain: the BPE chain with a per-round symbol-count
    * CTE (y$r) and the likelihood argmax (cnt·10¹²) // (cₐ·c_b) — the
    * same integer quotient the engine computes, same (score desc, a, b)
    * tie-break.
    */
  private def wpCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT p.a AS a, p.b AS b, sum(n)::BIGINT AS cnt FROM
           (SELECT n, unnest([{'a': li[i], 'b': li[i+1]}
              for i in range(1, len(li))]) AS p
            FROM (SELECT n, str_split(trim(seq), ' ') AS li FROM s${r - 1}) t0) t
         GROUP BY 1, 2),
         y$r AS MATERIALIZED (SELECT sym, sum(n)::BIGINT AS c FROM
           (SELECT n, unnest(str_split(trim(seq), ' ')) AS sym FROM s${r - 1}) t
         GROUP BY sym),
         b$r AS MATERIALIZED (SELECT p.a AS a, p.b AS b, cnt,
                 CAST((CAST(cnt AS HUGEINT) * 1000000000000)
                     // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT)
                   AS score_u,
                 ' ' || p.a || ' ' || p.b || ' ' AS pat,
                 ' ' || p.a || p.b || ' ' AS rep
               FROM p$r p JOIN y$r ca ON p.a = ca.sym
                 JOIN y$r cb ON p.b = cb.sym
               ORDER BY score_u DESC, p.a, p.b LIMIT 1),
         r$r AS (SELECT w, n, seq, pat FROM s${r - 1} CROSS JOIN b$r
           UNION ALL
           SELECT w, n, regexp_replace(seq, pat, (SELECT rep FROM b$r)), pat
           FROM r$r WHERE contains(seq, pat)),
         s$r AS MATERIALIZED (SELECT w, n, seq FROM r$r WHERE NOT contains(seq, pat))"""
    }.mkString(",\n")
    // each round reads s${r-1} THREE times (pairs, symbol counts, the
    // rewrite seed) — without MATERIALIZED the chain re-inlines 3^rounds
    // copies of the corpus scan (measured: fd exhaustion at 6 rounds)
    s"""WITH RECURSIVE words AS MATERIALIZED (SELECT w, count(*)::BIGINT AS n FROM
         (SELECT unnest(str_split(text, ' ')) AS w FROM documents) t
       WHERE len(w) > 0 GROUP BY w),
       s0 AS MATERIALIZED (SELECT w, n,
           ' ' || array_to_string(str_split(w, ''), ' ') || ' ' AS seq
         FROM words),
       $roundCtes"""
  }

  private def wpOracle(rounds: Int): String =
    s"""${wpCtes(rounds)}
       ${(1 to rounds).map(r =>
        s"SELECT $r AS round, a AS sym_a, b AS sym_b, a || b AS merged, cnt, score_u FROM b$r")
        .mkString("\n UNION ALL ")} ORDER BY round"""

  private def wpApplyOracle(rounds: Int): String =
    s"""${wpCtes(rounds)},
       v AS (SELECT w, len(str_split(trim(seq), ' '))::BIGINT AS n_sym
             FROM s$rounds),
       d AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
       SELECT doc_id, count(*) AS n_ws, CAST(sum(n_sym) AS BIGINT) AS n_wp
       FROM d JOIN v USING (w) WHERE len(w) > 0
       GROUP BY doc_id ORDER BY doc_id"""

  private val qualityDriftPsiOracleSql: String =
    """WITH c AS (SELECT
             CAST(least(floor(o_totalprice / 50000.0), 9.0) AS INTEGER) AS bucket,
             o_orderdate < TIMESTAMP '1998-07-01' AS in_a
           FROM orders),
         g AS (SELECT bucket,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM c GROUP BY bucket),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
             CAST(sum(n_b) AS BIGINT) AS tot_b
           FROM g),
         spine AS (SELECT CAST(range AS INTEGER) AS bucket FROM range(0, 10)),
         pb AS (SELECT s.bucket,
             coalesce(g.n_a, 0) AS n_a, coalesce(g.n_b, 0) AS n_b,
             (coalesce(g.n_a, 0) + 1.0) / (t.tot_a + 10.0) AS p_a,
             (coalesce(g.n_b, 0) + 1.0) / (t.tot_b + 10.0) AS p_b
           FROM spine s LEFT JOIN g ON s.bucket = g.bucket CROSS JOIN t),
         pu AS (SELECT bucket, n_a, n_b, p_a, p_b,
             CAST(round((p_a - p_b) * ln(p_a / p_b) * 1e6) AS BIGINT) AS psi_u
           FROM pb)
         SELECT bucket, n_a, n_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
           psi_u / 1000000.0 AS psi FROM pu
         UNION ALL
         SELECT -1, CAST(sum(n_a) AS BIGINT), CAST(sum(n_b) AS BIGINT),
           NULL, NULL, CAST(sum(psi_u) AS BIGINT) / 1000000.0 FROM pu
         ORDER BY bucket"""
  private val qualityFreshnessOracleSql: String =
    """WITH p AS (SELECT event_type, count(*) AS n_events,
             max(epoch_us(ts)) AS last_seen_us
           FROM events GROUP BY event_type),
         g AS (SELECT max(last_seen_us) AS gmax FROM p)
         SELECT event_type, CAST(n_events AS BIGINT) AS n_events, last_seen_us,
           g.gmax - last_seen_us AS lag_us,
           CASE WHEN g.gmax - last_seen_us > 1200000000 THEN 1 ELSE 0 END AS stale
         FROM p CROSS JOIN g ORDER BY event_type"""
  private val eventsRfmOracleSql: String =
    """WITH pur AS (SELECT user_id, epoch_us(ts) AS tsu,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       per AS (SELECT user_id, max(tsu) AS last_us,
           count(*)::BIGINT AS freq, sum(cents)::BIGINT AS mon_c
         FROM pur GROUP BY user_id),
       ref AS (SELECT max(last_us) AS ref_us FROM per),
       b AS (SELECT user_id, (ref_us - last_us) // 86400000000 AS rec_days,
           freq, mon_c, mon_c // 1000 AS mon_b FROM per, ref),
       t AS (SELECT user_id, rec_days, freq, mon_c,
           ntile(5) OVER (ORDER BY rec_days, user_id) AS rt,
           ntile(5) OVER (ORDER BY freq, user_id) AS ft,
           ntile(5) OVER (ORDER BY mon_b, user_id) AS mt
         FROM b)
       SELECT user_id, rec_days, freq, mon_c,
         CAST(6 - rt AS INTEGER) AS r_score, CAST(ft AS INTEGER) AS f_score,
         CAST(mt AS INTEGER) AS m_score,
         CASE WHEN 6 - rt >= 4 AND ft >= 4 THEN 'champion'
              WHEN 6 - rt <= 2 AND ft >= 4 THEN 'at_risk'
              WHEN 6 - rt >= 4 AND ft <= 2 THEN 'new'
              ELSE 'regular' END AS segment
       FROM t ORDER BY user_id"""

  private val eventsTransitionsOracleSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
           epoch_us(ts) AS tsu FROM events),
       l AS (SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY tsu, event_id) AS to_type
         FROM e),
       tr AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM l
              WHERE to_type IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM tr GROUP BY 1)
       SELECT tr.from_type, to_type, n,
         CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
       FROM tr JOIN tot USING (from_type)
       ORDER BY from_type, to_type"""

  private val eventsFunnelOracleSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
       s1 AS (SELECT user_id, min(tsu) AS t1_us,
                min(tsu) + 172800000000 AS dl_us
              FROM ev WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(tsu) AS t2_us
              FROM ev e JOIN s1 USING (user_id)
              WHERE event_type = 'click' AND tsu > t1_us AND tsu <= dl_us
              GROUP BY e.user_id),
       s12 AS (SELECT s1.user_id, t1_us, dl_us, t2_us
               FROM s1 LEFT JOIN s2 USING (user_id)),
       s3 AS (SELECT e.user_id, min(tsu) AS t3_us
              FROM ev e JOIN s12 USING (user_id)
              WHERE event_type = 'purchase' AND t2_us IS NOT NULL
                AND tsu > t2_us AND tsu <= dl_us
              GROUP BY e.user_id)
       SELECT s12.user_id, t1_us, t2_us, t3_us,
         CAST(1 + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
                + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END AS INTEGER)
           AS level
       FROM s12 LEFT JOIN s3 USING (user_id) ORDER BY user_id"""

  /** Stationary distribution replayed round-for-round: the transition
    * CTEs (the events_transitions spelling), uniform ppm init, then each
    * power-iteration round as matvec-in-ppm + renormalization — the
    * identical integer truncation order the engine's loop executes.
    */
  private def markovStationaryOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""r$r AS (SELECT tm.to_type AS t,
             CAST(sum(p${r - 1}.v * tm.p_ppm) // 1000000 AS BIGINT) AS v
           FROM p${r - 1} JOIN tm ON p${r - 1}.t = tm.from_type GROUP BY 1),
         s$r AS (SELECT sum(v) AS sv FROM r$r),
         p$r AS (SELECT t, CAST((v * 1000000) // sv AS BIGINT) AS v
                 FROM r$r, s$r)"""
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type,
           epoch_us(ts) AS tsu FROM events),
       l AS (SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY tsu, event_id) AS to_type
         FROM e),
       tr AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM l
              WHERE to_type IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM tr GROUP BY 1),
       tm0 AS MATERIALIZED (SELECT tr.from_type, to_type,
           CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
         FROM tr JOIN tot USING (from_type)),
       ty AS (SELECT DISTINCT t FROM
         (SELECT from_type AS t FROM tm0 UNION ALL SELECT to_type FROM tm0)),
       -- dangling types get the engine's unit self-loop (absorbing-state
       -- closure) so terminal states hold their mass instead of leaking
       tm AS MATERIALIZED (SELECT * FROM tm0 UNION ALL
         SELECT t, t, CAST(1000000 AS BIGINT) FROM ty
         WHERE t NOT IN (SELECT from_type FROM tm0)),
       nn AS (SELECT count(*)::BIGINT AS c FROM ty),
       p0 AS (SELECT t, CAST(1000000 // c AS BIGINT) AS v FROM ty, nn),
       $roundCtes
       SELECT t AS event_type, v AS pi_ppm FROM p$rounds ORDER BY event_type"""
  }

  /** The DSIR weighing room as CTEs — hashed-unigram bucket histograms
    * (target = lang 'en' vs raw), add-one smoothing over the OBSERVED
    * bucket support, per-token micro-rounded ln ratios summed per doc.
    * Shared by the threshold-selection entry and the Gumbel resampler.
    */
  private val dsirScoreCtes: String =
    """toks AS (SELECT doc_id, lang,
             CAST((('0x' || substring(md5(token), 1, 8))::BIGINT % 1024)
               AS BIGINT) AS b
           FROM (SELECT doc_id, lang, unnest(str_split(lower(text), ' '))
                   AS token FROM documents)
           WHERE token <> ''),
         raw AS (SELECT b, count(*)::BIGINT AS n_raw FROM toks GROUP BY b),
         tgt AS (SELECT b, count(*)::BIGINT AS n_tgt FROM toks
                 WHERE lang = 'en' GROUP BY b),
         cnts AS (SELECT raw.b, n_raw, coalesce(n_tgt, 0) AS n_tgt
                  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         tot AS (SELECT sum(n_raw)::BIGINT AS tot_raw,
                        sum(n_tgt)::BIGINT AS tot_tgt,
                        count(*)::BIGINT AS nb FROM cnts),
         lw AS (SELECT b,
             CAST(round((ln((n_tgt + 1.0) / (tot_tgt + nb)) -
                         ln((n_raw + 1.0) / (tot_raw + nb))) * 1e6)
               AS BIGINT) AS lw_u
           FROM cnts, tot),
         sc AS (SELECT t.doc_id, count(*)::BIGINT AS n_feats,
                  sum(lw_u)::BIGINT AS logw_u
                FROM toks t JOIN lw ON t.b = lw.b
                GROUP BY t.doc_id)"""

  /** Holt recurrence replayed as a recursive CTE over the day index —
    * the same IEEE operation order as the engine's array fold, so the
    * doubles match bit-for-bit (the agg_ewma convention). Shared by the
    * batch entry and the streaming twin.
    */
  private val tsHoltCtes: String =
    """daily AS (SELECT CAST(ts AS DATE) AS day,
             count(*)::BIGINT AS n FROM events GROUP BY 1),
       d AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM daily),
       h AS (
         SELECT i, day, n, n::DOUBLE AS l, 0.0::DOUBLE AS b FROM d WHERE i = 1
         UNION ALL
         SELECT d.i, d.day, d.n,
           0.5 * d.n + 0.5 * (h.l + h.b),
           0.3 * ((0.5 * d.n + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
         FROM h JOIN d ON d.i = h.i + 1)"""

  private val tsHoltOracleSql: String =
    s"""WITH RECURSIVE $tsHoltCtes
       SELECT CAST(day AS VARCHAR) AS day, n, round(l, 6) AS level,
         round(b, 6) AS trend
       FROM h ORDER BY day"""

  /** The forecast off the final fitted state: the same recursive chain,
    * last row picked by max(i), projected k = 1..7 days out on the
    * ROUNDED published level/trend (matching the engine's composition).
    */
  private val tsHoltForecastOracleSql: String =
    s"""WITH RECURSIVE $tsHoltCtes,
       f AS (SELECT day, l, b FROM h WHERE i = (SELECT max(i) FROM h))
       SELECT CAST(k AS INTEGER) AS k,
         strftime(day + CAST(k AS INTEGER), '%Y-%m-%d') AS day,
         round(round(l, 6) + k * round(b, 6), 6) AS forecast
       FROM f CROSS JOIN (SELECT unnest(range(1, 8)) AS k)
       ORDER BY k"""

  private val qualityCusumOracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
       mx AS (SELECT max(day) AS md, max(n) AS mn FROM daily),
       shift AS (SELECT md + CAST(k AS INTEGER) AS day,
               CAST(mn * 2 AS BIGINT) AS n
             FROM mx CROSS JOIN (SELECT unnest(range(1, 6)) AS k)),
       d AS (SELECT * FROM daily UNION ALL SELECT * FROM shift),
       st AS (SELECT CAST((sum(n) * 1000000) // count(*) AS BIGINT) AS mu_u
             FROM d),
       f AS (SELECT day, n,
             CAST(n * 1000000 - st.mu_u - st.mu_u // 10 AS BIGINT) AS inc_u,
             st.mu_u
           FROM d CROSS JOIN st),
       g AS (SELECT day, n, mu_u,
             CAST(sum(inc_u) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS p_u
           FROM f),
       h AS (SELECT day, n, mu_u, p_u,
             CAST(min(p_u) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS m_u
           FROM g)
       SELECT strftime(day, '%Y-%m-%d') AS day, n,
         CAST(p_u - least(m_u, 0) AS BIGINT) AS cusum_u,
         CASE WHEN p_u - least(m_u, 0) > mu_u THEN 1 ELSE 0 END AS alarm
       FROM h ORDER BY day"""

  private val tsSeasonalOracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
       d2 AS (SELECT day, n, CAST(dayofweek(day) AS INTEGER) AS dow FROM daily),
       s AS (SELECT dow, CAST((sum(n) * 1000000) // count(*) AS BIGINT)
               AS seasonal_u
             FROM d2 GROUP BY dow)
       SELECT strftime(day, '%Y-%m-%d') AS day, dow, n, seasonal_u,
         CAST(n * 1000000 - seasonal_u AS BIGINT) AS residual_u
       FROM d2 JOIN s USING (dow) ORDER BY day"""

  private val qualityAnomalyOracleSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
         sp AS (SELECT (SELECT max(day) + 30 FROM daily) AS day,
             (SELECT max(n) * 8 FROM daily) AS n),
         d AS (SELECT * FROM daily UNION ALL SELECT * FROM sp),
         s1 AS (SELECT quantile_cont(n, 0.5) AS med FROM d),
         s2 AS (SELECT quantile_cont(abs(n - s1.med), 0.5) AS mad FROM d, s1)
         SELECT strftime(day, '%Y-%m-%d') AS day, n, med, mad,
           CAST(n * 2 - CAST(med * 2 AS BIGINT) AS BIGINT) AS z_num,
           CAST(mad * 2 AS BIGINT) AS z_den,
           CASE WHEN mad = 0 THEN 0
                WHEN abs(n * 2 - CAST(med * 2 AS BIGINT)) * 6745 >
                     CAST(mad * 2 AS BIGINT) * 35000 THEN 1 ELSE 0 END
             AS outlier
         FROM d CROSS JOIN s1 CROSS JOIN s2 ORDER BY day"""

  private val qualityExpectationsOracleSql: String =
    """WITH o AS (SELECT count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS f_notnull,
             count(o_orderkey) - count(DISTINCT o_orderkey) AS f_unique,
             sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE)
                 THEN 0 ELSE 1 END) AS f_accepted,
             sum(CASE WHEN o_totalprice IS NULL OR o_totalprice > 400000.0
                 THEN 1 ELSE 0 END) AS f_maxval
           FROM orders),
         l AS (SELECT count(*) AS n,
             sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS f_disc,
             sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS f_qty,
             sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS f_ship
           FROM lineitem),
         ri AS (SELECT count(*) AS n,
             sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS f
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey),
         rows_ AS (
           SELECT 'not_null' AS expectation, 'orders.o_custkey' AS target,
                  n, f_notnull AS f FROM o
           UNION ALL SELECT 'unique', 'orders.o_orderkey', n, f_unique FROM o
           UNION ALL SELECT 'accepted_values', 'orders.o_orderstatus', n,
                  f_accepted FROM o
           UNION ALL SELECT 'max_value', 'orders.o_totalprice', n, f_maxval FROM o
           UNION ALL SELECT 'range', 'lineitem.l_discount', n, f_disc FROM l
           UNION ALL SELECT 'range', 'lineitem.l_quantity', n, f_qty FROM l
           UNION ALL SELECT 'not_null', 'lineitem.l_shipdate', n, f_ship FROM l
           UNION ALL SELECT 'ref_integrity', 'orders.o_custkey->customer', n, f
                  FROM ri)
         SELECT expectation, target, CAST(n AS BIGINT) AS n_checked,
           CAST(f AS BIGINT) AS n_failed,
           CASE WHEN f = 0 THEN 1 ELSE 0 END AS pass
         FROM rows_ ORDER BY expectation, target"""

  /** One DuckDB Viterbi pass of the unigram-LM trainer — the SAME
    * string-encoded DP fold as PipelineOps.uniViterbi: states are
    * '%020d-cost|seg' so lexicographic list_min IS (cost, seg) order,
    * identical to the Spark side's array_min by construction. The fold
    * iterates via the prepend-the-init trick (the house list_reduce
    * convention, see text_fingerprint): element 1 is the init state
    * list, the remaining len(w) empty lists are position markers, and
    * the current position is len(acc).
    */
  private def uniDpBody(psCte: String): String =
    s"""(SELECT w, n, list_reduce(
           [[printf('%020d', 0) || '|']] ||
             [CAST([] AS VARCHAR[]) for i in range(1, len(w) + 1)],
           (acc, x) -> list_append(acc, list_min([
             printf('%020d',
               CAST(substring(acc[p.st0 + 1], 1, 20) AS BIGINT) + p.c)
               || '|' || substring(acc[p.st0 + 1], 22) || ' ' || p.p
             for p in ps if p.e = len(acc)]))) AS dp
         FROM $psCte)"""

  /** The full unigram train loop (seed → score → Viterbi → hard-EM
    * re-score → Viterbi) as a CTE chain ending in seg1/seg2 — shared by
    * pipeline_unigram_lm and the fertility census.
    */
  private val uniCtes: String =
    s"""WITH wr AS (SELECT w, count(*)::BIGINT AS n FROM
         (SELECT unnest(str_split(text, ' ')) AS w FROM documents) t
         WHERE len(w) > 0 AND len(w) <= 32 GROUP BY w),
       sub AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM
           (SELECT n, unnest(flatten(
              [[substring(w, st, ln)
                for ln in range(1, least(4, len(w) - st + 1) + 1)]
               for st in range(1, len(w) + 1)])) AS piece FROM wr) t
         GROUP BY piece),
       topv AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 48),
       voc AS (SELECT piece, max(cnt) AS cnt FROM
           (SELECT * FROM topv UNION ALL
            SELECT piece, cnt FROM sub WHERE len(piece) = 1) t GROUP BY piece),
       c1 AS (SELECT piece,
           CAST(round(-ln(CAST(cnt AS DOUBLE) / t.tot) * 1e6) AS BIGINT) AS c
         FROM voc CROSS JOIN
           (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM voc) t),
       occ0 AS (SELECT w, n, unnest(flatten(
           [[{'e': st + ln - 1, 'st0': st - 1, 'p': substring(w, st, ln)}
             for ln in range(1, least(4, len(w) - st + 1) + 1)]
            for st in range(1, len(w) + 1)])) AS o
         FROM wr),
       ps1 AS (SELECT occ0.w, occ0.n,
           list({'e': o.e, 'st0': o.st0, 'c': c1.c, 'p': o.p}) AS ps
         FROM occ0 JOIN c1 ON o.p = c1.piece GROUP BY occ0.w, occ0.n),
       dp1 AS ${uniDpBody("ps1")},
       seg1 AS (SELECT w, n,
           CAST(substring(dp[len(w) + 1], 1, 20) AS BIGINT) AS cost_u,
           trim(substring(dp[len(w) + 1], 22)) AS seg FROM dp1),
       u2 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM
           (SELECT n, unnest(str_split(seg, ' ')) AS piece FROM seg1) t
         GROUP BY piece),
       v2 AS (SELECT voc.piece, coalesce(u2.cnt, 0) AS cnt
              FROM voc LEFT JOIN u2 ON voc.piece = u2.piece),
       c2 AS (SELECT piece,
           CAST(round(-ln((cnt + 1.0) / (t.tot + t.v)) * 1e6) AS BIGINT) AS c
         FROM v2 CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
             count(*) AS v FROM v2) t),
       ps2 AS (SELECT occ0.w, occ0.n,
           list({'e': o.e, 'st0': o.st0, 'c': c2.c, 'p': o.p}) AS ps
         FROM occ0 JOIN c2 ON o.p = c2.piece GROUP BY occ0.w, occ0.n),
       dp2 AS ${uniDpBody("ps2")},
       seg2 AS (SELECT w, n,
           CAST(substring(dp[len(w) + 1], 1, 20) AS BIGINT) AS cost_u,
           trim(substring(dp[len(w) + 1], 22)) AS seg FROM dp2)"""

  private def bpeCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT p.a AS a, p.b AS b, sum(n)::BIGINT AS cnt FROM
           (SELECT n, unnest([{'a': li[i], 'b': li[i+1]}
              for i in range(1, len(li))]) AS p
            FROM (SELECT n, str_split(trim(seq), ' ') AS li FROM s${r - 1}) t0) t
         GROUP BY 1, 2),
         b$r AS (SELECT a, b, cnt, ' ' || a || ' ' || b || ' ' AS pat,
                 ' ' || a || b || ' ' AS rep
               FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         r$r AS (SELECT w, n, seq, pat FROM s${r - 1} CROSS JOIN b$r
           UNION ALL
           SELECT w, n, regexp_replace(seq, pat, (SELECT rep FROM b$r)), pat
           FROM r$r WHERE contains(seq, pat)),
         s$r AS (SELECT w, n, seq FROM r$r WHERE NOT contains(seq, pat))"""
    }.mkString(",\n")
    s"""WITH RECURSIVE words AS (SELECT w, count(*)::BIGINT AS n FROM
         (SELECT unnest(str_split(text, ' ')) AS w FROM documents) t
       WHERE len(w) > 0 GROUP BY w),
       s0 AS (SELECT w, n,
           ' ' || array_to_string(str_split(w, ''), ' ') || ' ' AS seq
         FROM words),
       $roundCtes"""
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared CTE chain reproducing the MinHash/LSH candidate+verify
    * pipeline in DuckDB — used by both dedup_near (the pair list) and
    * dedup_clusters (label propagation over those pairs).
    */
  /** Just the shingle→minhash→band CTEs (t, s, m0, m, b) — shared by the
    * all-pairs chain below and the asymmetric incremental-probe oracle.
    */
  private def nearDupBandCtes(src: String): String =
    s"""t AS (SELECT doc_id, str_split(text,' ') AS toks FROM $src),
       s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
              for i in range(1, greatest(len(toks)-1, 2))]) AS sh FROM t),
       m0 AS (SELECT doc_id, sh, [list_transform(sh, x -> md5(p::VARCHAR || '|' || x))
               for p in range(0, 16)] AS mhs FROM s),
       m AS (SELECT doc_id, sh,
               flatten([[list_min(list_transform(hs, h -> substring(h, 1, 16))),
                         list_min(list_transform(hs, h -> substring(h, 17, 16)))]
                        for hs in mhs]) AS mh FROM m0),
       b AS (SELECT doc_id, r.b AS band, md5(array_to_string(mh[r.b*4+1 : r.b*4+4], '|')) AS sig
             FROM m CROSS JOIN (SELECT unnest(range(0,8)) AS b) r)"""

  private def nearDupCtes(src: String): String =
    s"""${nearDupBandCtes(src)},
       bsz AS (SELECT band, sig FROM b GROUP BY band, sig
               HAVING count(*) BETWEEN 2 AND 64),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id
                JOIN bsz ON bsz.band = a.band AND bsz.sig = a.sig),
       j AS (SELECT doc_a, doc_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
             FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b)"""

  private val nearDupCte: String = "WITH " + nearDupCtes("documents")

  /** The SGNS training chain as a reusable WITH-body (walk corpus →
    * pair census → md5-rank negatives → integer micro-unit init → two
    * unrolled batch-GD rounds; final table `m2`). Shared by the
    * training entry and its top-k serving consumer so the two oracles
    * cannot drift.
    */
  private lazy val nodeEmbedOracleCtes: String = {
      val corpus = randomWalkOracleBody(4)
      val dims = 1 to 4
      val trainRounds = (1 to 2).map { r =>
        s""",
         j$r AS MATERIALIZED (SELECT ex.center, ex.context, ex.n_pairs, ex.label,
             ${dims.map(i => s"u.e$i::DOUBLE / 1000000.0 AS u$i").mkString(", ")},
             ${dims.map(i => s"v.e$i::DOUBLE / 1000000.0 AS v$i").mkString(", ")}
           FROM ex JOIN m${r - 1} u ON u.node = ex.center
                   JOIN m${r - 1} v ON v.node = ex.context),
         q$r AS MATERIALIZED (SELECT center, context, n_pairs,
             ${dims.map(i => s"CAST(round(err * v$i * 1000000.0) AS BIGINT) AS gc$i").mkString(", ")},
             ${dims.map(i => s"CAST(round(err * u$i * 1000000.0) AS BIGINT) AS go$i").mkString(", ")}
           FROM (SELECT *,
                   (0.5 + z / (2.0 * (1.0 + abs(z))) - label) * n_pairs AS err
                 FROM (SELECT *, ${dims.map(i => s"u$i * v$i").mkString(" + ")} AS z
                       FROM j$r))),
         g$r AS MATERIALIZED (SELECT node, sum(nw) AS nw,
             ${dims.map(i => s"sum(g$i) AS g$i").mkString(", ")}
           FROM (SELECT center AS node, n_pairs AS nw,
                   ${dims.map(i => s"gc$i AS g$i").mkString(", ")} FROM q$r
                 UNION ALL
                 SELECT context, n_pairs,
                   ${dims.map(i => s"go$i").mkString(", ")} FROM q$r)
           GROUP BY node),
         m$r AS MATERIALIZED (SELECT m.node,
             ${dims.map(i =>
               s"CASE WHEN g.node IS NULL THEN m.e$i ELSE m.e$i - CAST(round(0.5 * g.g$i::DOUBLE / g.nw::DOUBLE) AS BIGINT) END AS e$i")
               .mkString(", ")}
           FROM m${r - 1} m LEFT JOIN g$r g ON g.node = m.node)"""
      }.mkString
      s"""w AS MATERIALIZED ($corpus),
         prs AS MATERIALIZED (SELECT a.node AS center, b.node AS context,
             count(*) AS n_pairs
           FROM w a JOIN w b ON a.start_id = b.start_id
             AND a.step <> b.step AND abs(a.step - b.step) <= 2
           GROUP BY a.node, b.node),
         nd AS MATERIALIZED (SELECT DISTINCT center AS node FROM prs),
         rkd AS MATERIALIZED (SELECT node, row_number() OVER (ORDER BY node) AS rnk
           FROM nd),
         vc AS (SELECT count(*) AS v FROM nd),
         ex AS MATERIALIZED (
           SELECT center, context, n_pairs, 1.0 AS label FROM prs
           UNION ALL
           SELECT p.center, r.node, p.n_pairs, 0.0
           FROM prs p CROSS JOIN vc
           JOIN rkd r ON r.rnk =
             ('0x' || substring(md5(p.center || '|' || p.context), 1, 8))::BIGINT
               % vc.v + 1),
         m0 AS MATERIALIZED (SELECT node,
           ${dims.map(i => s"CAST(((node * 37 + ${i * 101}) % 2001 - 1000) * 1000 AS BIGINT) AS e$i").mkString(", ")}
           FROM nd)$trainRounds"""
  }

  /** The sign-cell SERVING chain as a reusable WITH-body fragment
    * (appended after [[nodeEmbedOracleCtes]]): embeddings with norms
    * and sign-byte cells (`en`), the capped probe set (`pr`), the
    * per-probe 4 best cells by exact integer score (`pc`), and the
    * probed-cell candidate scores (`sc`). Shared by the served entry
    * and the recall audit so the two oracles cannot drift.
    */
  private lazy val nodeEmbedServeCtes: String =
    s"""en AS (SELECT node, ${(1 to 4).map(i => s"e$i").mkString(", ")},
              ${(1 to 4).map(i => s"e$i * e$i").mkString(" + ")} AS nrm2,
              ${(1 to 4).map(i =>
                s"(CASE WHEN e$i > 0 THEN ${1 << (i - 1)} ELSE 0 END)")
                .mkString(" + ")} AS cell
            FROM m2),
     pr AS (SELECT node AS probe, ${(1 to 4).map(i => s"e$i AS p$i").mkString(", ")},
              nrm2 AS pn FROM en WHERE node % 64 = 0
            ORDER BY node LIMIT 32),
     pc AS (SELECT probe, cell FROM (
              SELECT probe, cell, row_number() OVER
                (PARTITION BY probe ORDER BY score DESC, cell) AS rn
              FROM (SELECT p.probe, c.cell,
                      ${(1 to 4).map(i =>
                        s"(CASE WHEN (c.cell & ${1 << (i - 1)}) = ${1 << (i - 1)} THEN p.p$i ELSE -p.p$i END)")
                        .mkString(" + ")} AS score
                    FROM pr p CROSS JOIN (SELECT unnest(range(0, 16)) AS cell) c))
            WHERE rn <= 4),
     sc AS (SELECT p.probe, e.node,
              round((${(1 to 4).map(i => s"e.e$i * p.p$i").mkString(" + ")})::DOUBLE
                / (sqrt(e.nrm2::DOUBLE) * sqrt(p.pn::DOUBLE)), 6) AS cos
            FROM pc JOIN en e ON e.cell = pc.cell
                    JOIN pr p ON p.probe = pc.probe
            WHERE e.node <> p.probe AND e.nrm2 > 0 AND p.pn > 0)"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
         round(avg(l_quantity), 2) AS avg_qty,
         round(avg(l_extendedprice), 2) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "project" ->
      """SELECT p_partkey,
         upper(p_brand) AS brand_uc,
         p_retailprice * p_size AS price_x_size,
         p_type AS part_type,
         p_size >= 25 AS is_large
         FROM part ORDER BY p_partkey""",
    "filter_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderstatus IN ('O','F')
           AND o_totalprice BETWEEN 1000 AND 300000
           AND o_orderpriority LIKE '%URGENT%'
           AND o_orderkey IS NOT NULL
           AND (o_custkey % 2 = 0 OR o_totalprice > 100000)
         ORDER BY o_orderkey""",
    "null_clean" ->
      """WITH w AS (
           SELECT c_custkey, c_acctbal,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null,
             CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END AS seg_or_null
           FROM customer)
         SELECT c_custkey,
           round(coalesce(bal_or_null, 0.0), 2) AS bal_filled,
           coalesce(seg_or_null, 'UNKNOWN') AS segment
         FROM w
         WHERE bal_or_null IS NOT NULL OR c_acctbal < 0
         ORDER BY c_custkey""",
    "cast_types" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(trunc(l_quantity) AS INT) AS qty_int,
         CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS qty_str,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec_str,
         CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
         CAST(epoch(l_shipdate) AS BIGINT) AS ship_epoch
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "cast_safe" ->
      """WITH r AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
                  ELSE CAST(o_custkey AS VARCHAR) END AS custkey_raw
           FROM orders)
         SELECT o_orderkey,
           TRY_CAST(custkey_raw AS BIGINT) AS custkey_typed,
           TRY_CAST(custkey_raw AS BIGINT) IS NOT NULL AS valid
         FROM r ORDER BY o_orderkey""",
    "flatten_nested" ->
      """SELECT o_orderkey, o_custkey AS cust, o_totalprice AS total,
         o_orderstatus AS status
         FROM orders ORDER BY o_orderkey""",
    // posexplode's pos is 0-based; DuckDB list indexing is 1-based
    "flatten_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS token
         FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
              (SELECT unnest(range(1, 6)) AS i)
         WHERE i <= len(toks)
         ORDER BY doc_id, pos""",
    "distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "empty_payload_guard" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem
         WHERE l_quantity < 0 GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the seeded Bernoulli coin is the same md5 integer draw in both
    // engines, so the oracle selects the identical rows
    "sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE ('0x' || substring(md5('42|' || l_orderkey || '|' || l_linenumber), 1, 6))::BIGINT < 1677721
         ORDER BY l_orderkey, l_linenumber""",
    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE substring(md5(l_orderkey || '|' || l_linenumber), 1, 1) = 'a'
         ORDER BY l_orderkey, l_linenumber""",
    "sample_stratified" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
         WHERE ('0x' || substring(md5(l_orderkey || '|' || l_linenumber), 1, 15))::BIGINT % 100
               < CASE l_returnflag WHEN 'A' THEN 10 WHEN 'N' THEN 5 ELSE 20 END
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "scan_parquet" ->
      """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS bal
         FROM supplier WHERE s_acctbal > 0 ORDER BY s_suppkey""",
    // the BMP decode replayed closed-form: header fields from the id
    // rule, pixel statistics from the mod-256 fill — the engine side
    // must parse REAL bytes (magic, offsets, bottom-up rows, padding)
    // to land on the same integers
    "multimodal_decode" ->
      """WITH d AS (SELECT doc_id,
               CAST(doc_id % 8 + 2 AS BIGINT) AS w,
               CAST(doc_id % 6 + 2 AS BIGINT) AS h,
               CASE WHEN doc_id % 13 = 5 THEN 'bad_magic'
                    WHEN doc_id % 13 = 9 THEN 'truncated'
                    ELSE 'ok' END AS status
             FROM documents),
         s AS (SELECT doc_id, status, w, h,
                 CAST(list_sum(list_transform(range(0, w * h * 3),
                   j -> (doc_id * 31 + 7 * j) % 256)) AS BIGINT) AS px_sum,
                 CAST(list_sum(list_transform(range(0, w * h),
                   p -> (doc_id * 31 + 21 * p) % 256)) AS BIGINT) AS bl_sum,
                 CAST(list_sum(list_transform(range((h - 1) * w * 3, (h - 1) * w * 3 + 3),
                   j -> (doc_id * 31 + 7 * j) % 256)) AS INT) AS tl_sum
               FROM d)
         SELECT doc_id, status,
           CAST(CASE WHEN status = 'bad_magic' THEN 0 ELSE w END AS INT) AS width,
           CAST(CASE WHEN status = 'bad_magic' THEN 0 ELSE h END AS INT) AS height,
           CAST(CASE WHEN status = 'ok' THEN w * h ELSE 0 END AS INT) AS n_pixels,
           CAST(CASE WHEN status = 'ok' THEN px_sum ELSE 0 END AS BIGINT) AS pixel_sum,
           CAST(CASE WHEN status = 'ok' THEN bl_sum ELSE 0 END AS BIGINT) AS blue_sum,
           CAST(CASE WHEN status = 'ok' THEN tl_sum ELSE 0 END AS INT) AS topleft_sum
         FROM s ORDER BY doc_id""",
    // the WAV decode replayed closed-form (the BMP stance for audio):
    // sample statistics from the mod-4001 PCM fill, status from the
    // fault-rule residues — the engine must walk real RIFF chunks
    // (junk LIST chunk included) to land on the same integers
    "multimodal_decode_wav" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 50 + 20 AS BIGINT) AS n,
             CASE WHEN doc_id % 11 = 3 THEN 'bad_magic'
                  WHEN doc_id % 11 = 7 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         s AS (SELECT doc_id, status, n,
                 CAST(list_sum(list_transform(range(0, n),
                   k -> (doc_id * 131 + 17 * k) % 4001 - 2000)) AS BIGINT) AS ssum,
                 CAST(list_sum(list_transform(range(0, n),
                   k -> ((doc_id * 131 + 17 * k) % 4001 - 2000)
                        * ((doc_id * 131 + 17 * k) % 4001 - 2000))) AS BIGINT) AS sq,
                 CAST(list_max(list_transform(range(0, n),
                   k -> abs((doc_id * 131 + 17 * k) % 4001 - 2000))) AS INT) AS pk
               FROM d)
         SELECT doc_id, status,
           CAST(CASE WHEN status = 'bad_magic' THEN 0 ELSE 8000 END AS INT) AS sample_rate,
           CAST(CASE WHEN status = 'ok' THEN n ELSE 0 END AS INT) AS n_samples,
           CAST(CASE WHEN status = 'ok' THEN ssum ELSE 0 END AS BIGINT) AS sample_sum,
           CAST(CASE WHEN status = 'ok' THEN sq ELSE 0 END AS BIGINT) AS sq_sum,
           CAST(CASE WHEN status = 'ok' THEN pk ELSE 0 END AS INT) AS peak
         FROM s ORDER BY doc_id""",
    // the PPM decode replayed closed-form: dimensions and the mod-256
    // RGB fill from the id rule — the engine must tokenize a real ASCII
    // header (comment lines included) to land on the same integers
    "multimodal_decode_ppm" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 7 + 2 AS BIGINT) AS w,
             CAST(doc_id % 5 + 2 AS BIGINT) AS h,
             CASE WHEN doc_id % 17 = 6 THEN 'bad_magic'
                  WHEN doc_id % 17 = 11 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         s AS (SELECT doc_id, status, w, h,
                 CAST(list_sum(list_transform(range(0, w * h * 3),
                   j -> (doc_id * 53 + 11 * j) % 256)) AS BIGINT) AS px_sum,
                 CAST(list_sum(list_transform(range(0, w * h),
                   p -> (doc_id * 53 + 33 * p) % 256)) AS BIGINT) AS rd_sum,
                 CAST(list_sum(list_transform(range(w * h * 3 - 3, w * h * 3),
                   j -> (doc_id * 53 + 11 * j) % 256)) AS INT) AS br_sum
               FROM d)
         SELECT doc_id, status,
           CAST(CASE WHEN status = 'ok' OR status = 'truncated' THEN w ELSE 0 END AS INT) AS width,
           CAST(CASE WHEN status = 'ok' OR status = 'truncated' THEN h ELSE 0 END AS INT) AS height,
           CAST(CASE WHEN status = 'ok' OR status = 'truncated' THEN 255 ELSE 0 END AS INT) AS maxval,
           CAST(CASE WHEN status = 'ok' THEN px_sum ELSE 0 END AS BIGINT) AS pixel_sum,
           CAST(CASE WHEN status = 'ok' THEN rd_sum ELSE 0 END AS BIGINT) AS red_sum,
           CAST(CASE WHEN status = 'ok' THEN br_sum ELSE 0 END AS INT) AS bottomright_sum
         FROM s ORDER BY doc_id""",
    // the ingest → decode composition censused per (format, status):
    // statuses from the three fault-rule residue systems, file sizes
    // from the closed-form encoded lengths (truncation shrinks the
    // file ON DISK — the binaryFile `length` column must agree), stat
    // and anchor sums from the per-format fill rules over ok files only
    "multimodal_ingest_decode" ->
      """WITH bmp AS (SELECT doc_id,
             CAST(doc_id % 8 + 2 AS BIGINT) AS w,
             CAST(doc_id % 6 + 2 AS BIGINT) AS h,
             CASE WHEN doc_id % 13 = 5 THEN 'bad_magic'
                  WHEN doc_id % 13 = 9 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         bmp2 AS (SELECT 'bmp' AS fmt, status,
             54 + (w * 3 + (4 - (w * 3) % 4) % 4) * h
               - CASE WHEN status = 'truncated' THEN 10 ELSE 0 END AS len,
             CASE WHEN status = 'ok' THEN CAST(list_sum(list_transform(
               range(0, w * h * 3), j -> (doc_id * 31 + 7 * j) % 256)) AS BIGINT)
               ELSE 0 END AS stat,
             CASE WHEN status = 'ok' THEN CAST(list_sum(list_transform(
               range((h - 1) * w * 3, (h - 1) * w * 3 + 3),
               j -> (doc_id * 31 + 7 * j) % 256)) AS BIGINT)
               ELSE 0 END AS anchor
           FROM bmp),
         wav AS (SELECT doc_id, CAST(doc_id % 50 + 20 AS BIGINT) AS n,
             CASE WHEN doc_id % 11 = 3 THEN 'bad_magic'
                  WHEN doc_id % 11 = 7 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         wav2 AS (SELECT 'wav' AS fmt, status,
             44 + CASE WHEN doc_id % 7 = 2 THEN 14 ELSE 0 END + 2 * n
               - CASE WHEN status = 'truncated' THEN 8 ELSE 0 END AS len,
             CASE WHEN status = 'ok' THEN CAST(list_sum(list_transform(
               range(0, n), k -> (doc_id * 131 + 17 * k) % 4001 - 2000)) AS BIGINT)
               ELSE 0 END AS stat,
             CASE WHEN status = 'ok' THEN CAST(list_max(list_transform(
               range(0, n), k -> abs((doc_id * 131 + 17 * k) % 4001 - 2000))) AS BIGINT)
               ELSE 0 END AS anchor
           FROM wav),
         ppm AS (SELECT doc_id,
             CAST(doc_id % 7 + 2 AS BIGINT) AS w,
             CAST(doc_id % 5 + 2 AS BIGINT) AS h,
             CASE WHEN doc_id % 17 = 6 THEN 'bad_magic'
                  WHEN doc_id % 17 = 11 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         ppm2 AS (SELECT 'ppm' AS fmt, status,
             11 + CASE WHEN doc_id % 9 = 4 THEN 20 ELSE 0 END + 3 * w * h
               - CASE WHEN status = 'truncated' THEN 5 ELSE 0 END AS len,
             CASE WHEN status = 'ok' THEN CAST(list_sum(list_transform(
               range(0, w * h * 3), j -> (doc_id * 53 + 11 * j) % 256)) AS BIGINT)
               ELSE 0 END AS stat,
             CASE WHEN status = 'ok' THEN CAST(list_sum(list_transform(
               range(w * h * 3 - 3, w * h * 3),
               j -> (doc_id * 53 + 11 * j) % 256)) AS BIGINT)
               ELSE 0 END AS anchor
           FROM ppm),
         u AS (SELECT * FROM bmp2 UNION ALL SELECT * FROM wav2
               UNION ALL SELECT * FROM ppm2)
         SELECT fmt, status, count(*) AS n_files,
           CAST(sum(len) AS BIGINT) AS bytes_total,
           CAST(sum(stat) AS BIGINT) AS stat_sum,
           CAST(sum(anchor) AS BIGINT) AS anchor_sum
         FROM u GROUP BY fmt, status ORDER BY fmt, status""",
    // pure frame-index arithmetic — integer-exact in both engines
    "multimodal_framesample" ->
      """WITH d AS (SELECT doc_id,
                 octet_length(encode(text)) AS n_bytes,
                 octet_length(encode(text)) % 240 + 16 AS n_frames
               FROM documents),
         f AS (SELECT doc_id, n_bytes, n_frames,
                 unnest(range(0, n_frames,
                   CAST(ceil(n_frames / 8.0) AS BIGINT))) AS frame_idx
               FROM d)
         SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 40 AS INT) AS frame_ts_ms,
           CAST(frame_idx * 1009 % greatest(n_bytes, 1) AS INT) AS frame_offset
         FROM f ORDER BY doc_id, frame_idx""",
    // half-pixel-center NN index map; operands < 2^21 so the double
    // division floors identically in both engines
    "multimodal_resize" ->
      """WITH d AS (SELECT doc_id,
                 octet_length(encode(text)) % 640 + 32 AS src_w,
                 octet_length(encode(text)) % 480 + 24 AS src_h
               FROM documents),
         g AS (SELECT doc_id, src_w, src_h, xs.gx, ys.gy
               FROM d CROSS JOIN (SELECT unnest(range(0, 8)) AS gx) xs
                      CROSS JOIN (SELECT unnest(range(0, 8)) AS gy) ys)
         SELECT doc_id, CAST(gx AS INT) AS gx, CAST(gy AS INT) AS gy,
           CAST(src_w AS INT) AS src_w, CAST(src_h AS INT) AS src_h,
           CAST(floor(((gx * 28 + 14) * 2 + 1) * src_w / 448.0) AS INT) AS nn_x,
           CAST(floor(((gy * 28 + 14) * 2 + 1) * src_h / 448.0) AS INT) AS nn_y
         FROM g ORDER BY doc_id, gx, gy""",
    // §2.3 joins
    "join_inner_hash" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "join_broadcast" ->
      """SELECT r_name,
         count(*) AS n_customers,
         round(avg(c_acctbal), 2) AS avg_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "join_sortmerge" ->
      """SELECT o_orderstatus,
         count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_left" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""",
    "join_right" ->
      """SELECT p_partkey, l_orderkey, l_linenumber, l_quantity
         FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
         ORDER BY p_partkey NULLS FIRST, l_orderkey NULLS FIRST,
                  l_linenumber NULLS FIRST, l_quantity NULLS FIRST""",
    "join_full" ->
      """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
            s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
         SELECT coalesce(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
         FROM c FULL JOIN s ON c_nationkey = s_nationkey
         ORDER BY nationkey""",
    "join_left_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_left_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey""",
    "join_theta" ->
      """SELECT a.n_nationkey AS a_key, a.n_name AS a_name,
                b.n_nationkey AS b_key, b.n_name AS b_name
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
         ORDER BY a_key, b_key""",
    "join_range" ->
      """SELECT p_partkey, p_retailprice, band
         FROM part
         JOIN (VALUES (0.0, 1200.0, 'budget'),
                      (1200.0, 1600.0, 'mid'),
                      (1600.0, 1000000000.0, 'premium')) b(lo, hi, band)
           ON p_retailprice >= lo AND p_retailprice < hi
         ORDER BY p_partkey""",
    "join_null_safe" ->
      """SELECT a.k, a.bucket, count(*) AS n_orders
         FROM (SELECT nullif(o_orderstatus, 'F') AS k,
                      coalesce(nullif(o_orderstatus, 'F'), 'quarantine') AS bucket
               FROM orders) a
         JOIN (SELECT DISTINCT nullif(o_orderstatus, 'F') AS dim_k FROM orders) b
           ON a.k IS NOT DISTINCT FROM b.dim_k
         GROUP BY a.k, a.bucket
         ORDER BY a.k NULLS FIRST""",
    "join_asof" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                epoch_us(p.ts) AS purchase_ts_us,
                (SELECT arg_max(c.event_id, c.ts) FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts) AS click_id,
                (SELECT epoch_us(max(c.ts)) FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts) AS click_ts_us
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id""",
    // nearest = closer of the backward (ts <= p.ts) and strictly-forward
    // candidates; backward wins ties and same-instant clicks are backward.
    // arg_max/arg_min order by the composite (ts, event_id) — not ts
    // alone — so two clicks at the same instant resolve to the same event
    // the Spark side's deterministic (ts, side, event_id) sort picks.
    // Encoded as one HUGEINT key (epoch_us * 2^32 + event_id, exact while
    // event_id < 2^32) because the pinned DuckDB 1.0.0 has no
    // struct-ordered arg_max
    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         x AS (SELECT p.event_id AS purchase_id, p.user_id,
                 epoch_us(p.ts) AS pus,
                 (SELECT epoch_us(max(c.ts)) FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id
                    AND c.ts <= p.ts) AS b_ts,
                 (SELECT arg_max(c.event_id,
                         epoch_us(c.ts)::HUGEINT * 4294967296 + c.event_id)
                  FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id
                    AND c.ts <= p.ts) AS b_id,
                 (SELECT epoch_us(min(c.ts)) FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id
                    AND c.ts > p.ts) AS f_ts,
                 (SELECT arg_min(c.event_id,
                         epoch_us(c.ts)::HUGEINT * 4294967296 + c.event_id)
                  FROM events c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id
                    AND c.ts > p.ts) AS f_id
               FROM p)
         SELECT purchase_id, user_id, pus AS purchase_ts_us,
           CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND pus - b_ts <= f_ts - pus)
                THEN b_id ELSE f_id END AS click_id,
           CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND pus - b_ts <= f_ts - pus)
                THEN b_ts ELSE f_ts END AS click_ts_us
         FROM x ORDER BY purchase_id""",
    // bounded staleness: candidates restricted to [t - 24h, t]; the
    // latest in-window click, when present, is the overall latest <= t,
    // so the two formulations agree. Same composite tie key as _nearest
    "join_asof_tolerance" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                epoch_us(p.ts) AS purchase_ts_us,
                (SELECT arg_max(c.event_id,
                        epoch_us(c.ts)::HUGEINT * 4294967296 + c.event_id)
                 FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts
                   AND c.ts >= p.ts - INTERVAL 1440 MINUTES) AS click_id,
                (SELECT epoch_us(max(c.ts)) FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts
                   AND c.ts >= p.ts - INTERVAL 1440 MINUTES) AS click_ts_us,
                EXISTS (SELECT 1 FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND c.ts <= p.ts
                   AND c.ts >= p.ts - INTERVAL 1440 MINUTES) AS matched
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id""",
    // forward direction compares at MICROSECOND precision (epoch_us) to
    // match Spark's truncated timestamps exactly
    "join_asof_forward" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                epoch_us(p.ts) AS purchase_ts_us,
                (SELECT c.event_id FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND epoch_us(c.ts) >= epoch_us(p.ts)
                 ORDER BY epoch_us(c.ts), c.event_id LIMIT 1) AS next_click_id,
                (SELECT min(epoch_us(c.ts)) FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND epoch_us(c.ts) >= epoch_us(p.ts)) AS next_click_ts_us
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-01'
           AND l_shipdate > TIMESTAMP '1997-06-01'
         GROUP BY l_orderkey, order_day
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_local_supplier" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    // floor() before the long compare: integer-valued totals, explicit
    // rounding direction on both engines (the agg_product rule)
    "q18_large_volume" ->
      """WITH big AS (SELECT l_orderkey,
             CAST(floor(sum(l_quantity)) AS BIGINT) AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(floor(sum(l_quantity)) AS BIGINT) > 250)
         SELECT c_custkey, c_name, o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           round(o_totalprice, 2) AS price, total_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN big ON o_orderkey = l_orderkey
         ORDER BY price DESC, o_orderkey LIMIT 100""",
    // the EXISTS/NOT-EXISTS pair folded into one per-order aggregate
    // (nsupp / nlate) — the engine's scan-once formulation, mirrored
    "q21_waiting_supplier" ->
      """WITH f AS (SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         os AS (SELECT l_orderkey FROM (
             SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
             FROM f GROUP BY l_orderkey) s
           WHERE nsupp >= 2 AND nlate = 1),
         sole AS (SELECT DISTINCT f.l_orderkey, f.l_suppkey
           FROM f JOIN os USING (l_orderkey) WHERE f.late),
         agg AS (SELECT l_suppkey, count(*) AS numwait FROM sole GROUP BY l_suppkey)
         SELECT s_name, n_name, numwait
         FROM agg JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         ORDER BY numwait DESC, s_name LIMIT 100""",
    "q_funnel" ->
      """WITH f AS (SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
           FROM events GROUP BY user_id)
         SELECT user_id, t_signup, t_click, t_purchase,
           (t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
            AND t_signup < t_click AND t_click < t_purchase) AS completed_funnel
         FROM f ORDER BY user_id""",
    // DuckDB runs the same correlated-LATERAL text natively
    "q_lateral_join" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top_orders
         WHERE c_custkey <= 300
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""",
    // DuckDB is the origin of GROUP BY ALL / ORDER BY ALL — same text
    // runs on both engines
    "q_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY ALL ORDER BY ALL""",
    // collated grouping partitions rows exactly like lower() on this data
    "fn_collation" ->
      """WITH s AS (SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg
           FROM customer)
         SELECT lower(seg) AS segment, count(*) AS n,
           count(DISTINCT seg) AS n_case_variants
         FROM s GROUP BY lower(seg) ORDER BY segment""",
    // recursive+glob discovery must reassemble the ORIGINAL table exactly
    "scan_glob" ->
      """SELECT * FROM region ORDER BY r_regionkey""",
    // the synthetic URL structure lets the oracle REBUILD each expected
    // component from the source fields — exact without a SQL URL parser
    "fn_url" ->
      """SELECT doc_id,
         'https' AS proto,
         'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
         '/docs/' || CAST(doc_id AS VARCHAR) AS path,
         'lang=' || lang || '&p=1' AS query,
         lang AS q_lang
         FROM documents ORDER BY doc_id""",
    // variant extractions replicated via DuckDB's JSON path functions;
    // v_schema is the per-row shape of {"k": <int>} — constant across
    // this corpus, derived per row by schema_of_variant on the Spark side
    // withField/dropFields flatten to one struct rebuild; integer cents
    // in the JSON so the byte-compare survives (sink_doc_shape rule)
    // round = half away from zero (HALF_UP on positives), round_even =
    // banker's — the exact .5 boundary separates them on every odd key
    // DuckDB lacks the bounded form — thresholding the full distance is
    // semantically identical (the bound only changes the kernel's cost)
    "fn_levenshtein_bounded" ->
      """SELECT a.n_nationkey AS ka, b.n_nationkey AS kb,
           CAST(CASE WHEN levenshtein(a.n_name, b.n_name) <= 5
                THEN levenshtein(a.n_name, b.n_name) ELSE -1 END AS INTEGER)
             AS lev_bounded,
           levenshtein(a.n_name, b.n_name) <= 5 AS within
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
         ORDER BY ka, kb""",
    "fn_rounding" ->
      """SELECT o_orderkey,
           o_orderkey + 0.5 AS boundary,
           round(o_orderkey + 0.5) AS half_up,
           round_even(o_orderkey + 0.5, 0) AS half_even,
           round(o_orderkey + 0.5) <> round_even(o_orderkey + 0.5, 0)
             AS modes_differ
         FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey""",
    "fn_struct" ->
      """SELECT c_custkey, c_custkey AS key,
           lower(c_mktsegment) AS segment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS balance_cents,
           CASE WHEN round(c_acctbal * 100) < 0 THEN 'overdrawn'
                WHEN round(c_acctbal * 100) < 500000 THEN 'standard'
                ELSE 'premium' END AS band,
           to_json(struct_pack(
             key := c_custkey,
             segment := lower(c_mktsegment),
             balance_cents := CAST(round(c_acctbal * 100) AS BIGINT),
             band := CASE WHEN round(c_acctbal * 100) < 0 THEN 'overdrawn'
                WHEN round(c_acctbal * 100) < 500000 THEN 'standard'
                ELSE 'premium' END)) AS doc_json
         FROM customer ORDER BY c_custkey""",
    "fn_variant" ->
      """SELECT event_id,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
         json_extract_string(props, '$.k') AS k_str,
         CAST(json_extract(props, '$.missing') AS INTEGER) AS missing_int,
         (json_type(props, '$.k') = 'NULL') AS k_is_null,
         'OBJECT<k: BIGINT>' AS v_schema
         FROM events ORDER BY event_id""",
    // CBO reordering is semantically invisible — the oracle is the plain
    // join over the same parquet
    "q_cbo_stats" ->
      """SELECT n_name, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name = 'NATION_7'
         GROUP BY n_name ORDER BY n_name""",
    "q6_sql_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
         count(*) AS n_rows
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                               FROM orders o2
                               WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "q_subquery_exists" ->
      """SELECT c_custkey, c_name
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 150000)
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q_subquery_in" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""",
    // DuckDB rank() returns BIGINT where Spark's is INT — cast; the four
    // explicit null-ordering spellings must agree rank-for-rank
    "q_null_ordering" ->
      """WITH k AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_totalprice END AS maybe_price
           FROM orders WHERE o_orderkey <= 200)
         SELECT o_orderkey, maybe_price,
           CAST(rank() OVER (ORDER BY maybe_price ASC NULLS FIRST, o_orderkey)
             AS INTEGER) AS r_asc_nf,
           CAST(rank() OVER (ORDER BY maybe_price ASC NULLS LAST, o_orderkey)
             AS INTEGER) AS r_asc_nl,
           CAST(rank() OVER (ORDER BY maybe_price DESC NULLS FIRST, o_orderkey)
             AS INTEGER) AS r_desc_nf,
           CAST(rank() OVER (ORDER BY maybe_price DESC NULLS LAST, o_orderkey)
             AS INTEGER) AS r_desc_nl
         FROM k ORDER BY o_orderkey""",
    // ratio of same-scale sums — rounded output far inside double noise
    "q14_promo_revenue" ->
      """SELECT
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct,
           count(*) AS n_rows
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
           AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'""",
    // correlated aggregate subquery — DuckDB evaluates it directly
    "q17_small_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_rows
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",
    // Q2 shape: correlated scalar min over the repeated multi-join
    "q2_min_cost_supplier" ->
      """SELECT DISTINCT round(s.s_acctbal, 2) AS s_acctbal, s.s_name,
           n.n_name, p.p_partkey, p.p_name,
           round(l.l_extendedprice, 2) AS min_price
         FROM part p, supplier s, lineitem l, nation n, region r
         WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
           AND p.p_size <= 15 AND s.s_nationkey = n.n_nationkey
           AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
           AND l.l_extendedprice = (
             SELECT min(l2.l_extendedprice)
             FROM lineitem l2, supplier s2, nation n2, region r2
             WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    // Q20 shape: nested IN chain + correlated sum via the derived alias
    "q20_excess_shipments" ->
      """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_regionkey IN (SELECT r_regionkey FROM region
                               WHERE r_name IN ('ASIA', 'EUROPE'))
           AND s_suppkey IN (
             SELECT g.l_suppkey
             FROM (SELECT l_suppkey, l_partkey, sum(l_quantity) AS sum_qty
                   FROM lineitem
                   WHERE l_partkey IN (SELECT p_partkey FROM part
                                       WHERE p_name LIKE 'small%')
                   GROUP BY l_suppkey, l_partkey) g
             WHERE g.sum_qty > (SELECT 0.2 * sum(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = g.l_partkey))
         ORDER BY s_name""",
    // Q4 shape: EXISTS-gated priority census (semi join)
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND CAST(l_shipdate AS DATE) >
                             CAST(o_orderdate AS DATE) + 90)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Q13 shape: outer-join count histogram (filter in the JOIN condition)
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) t
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    // Q19 shape: disjunctive multi-predicate join, integer-cent revenue
    "q19_disjunctive_revenue" ->
      """SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) / 100.0, 2) AS revenue,
           count(*) AS n_rows
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 50)""",
    // Q7 shape: 6-way join, double nation decode, partner-pair census
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
           round(sum(CAST(round(volume * 100) AS BIGINT)) / 100.0, 2)
             AS revenue,
           count(*) AS n_rows
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
               FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
                 JOIN orders o ON o.o_orderkey = l.l_orderkey
                 JOIN customer c ON c.c_custkey = o.o_custkey
                 JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
                 JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
                 JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
                 JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
               WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
                 AND n1.n_name <> n2.n_name
                 AND CAST(l_shipdate AS DATE)
                     BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') t
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    // Q8 shape: market-share ratio of integer-cent conditional sums
    "q8_market_share" ->
      """SELECT o_year,
           round(CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN vol_c
                               ELSE 0 END) AS DOUBLE) / sum(vol_c), 6)
             AS mkt_share,
           count(*) AS n_rows
         FROM (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS vol_c,
                 r2.r_name AS supp_region
               FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
                 JOIN supplier s ON s.s_suppkey = l.l_suppkey
                 JOIN orders o ON o.o_orderkey = l.l_orderkey
                 JOIN customer c ON c.c_custkey = o.o_custkey
                 JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
                 JOIN region r ON n1.n_regionkey = r.r_regionkey
                 JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
                 JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
               WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
                 AND CAST(o_orderdate AS DATE)
                     BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') t
         GROUP BY o_year ORDER BY o_year""",
    // Q15 shape: revenue view consumed twice + uncorrelated scalar max
    "q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS total_c
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, round(total_c / 100.0, 2) AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_c = (SELECT max(total_c) FROM revenue)
         ORDER BY s_suppkey""",
    // Q9 shape: 5-way profit join, retailprice-for-partsupp stand-in
    "q9_product_profit" ->
      """SELECT nation, o_year,
           round(CAST(sum(amount_c) AS BIGINT) / 100.0, 2) AS sum_profit
         FROM (SELECT n.n_name AS nation,
                 CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS o_year,
                 CAST(round((l.l_extendedprice * (1 - l.l_discount)
                   - 0.5 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT)
                   AS amount_c
               FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
                 JOIN supplier s ON s.s_suppkey = l.l_suppkey
                 JOIN orders o ON o.o_orderkey = l.l_orderkey
                 JOIN nation n ON s.s_nationkey = n.n_nationkey
               WHERE p.p_name LIKE '%red%') profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC""",
    // Q11 shape: HAVING over an uncorrelated global-total scalar
    "q11_important_parts" ->
      """SELECT l_partkey AS p_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cq
         FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
         GROUP BY l_partkey
         HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) > (
           SELECT sum(CAST(round(l2.l_extendedprice * 100) AS BIGINT)
               * CAST(l2.l_quantity AS BIGINT)) * 0.001
           FROM lineitem l2
             JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
             JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
           WHERE r2.r_name = 'ASIA')
         ORDER BY value_cq DESC, p_partkey""",
    // Q12 shape: late-shipment CASE census per line class
    "q12_shipmode_priority" ->
      """SELECT l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
           AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
         GROUP BY l_linestatus ORDER BY l_linestatus""",
    // Q16 shape: NOT IN anti + count-distinct per bucket
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
           AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                   WHERE s_acctbal < 0.0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // Q22 shape: scalar-average gate + NOT EXISTS anti-join
    "q22_global_sales" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_custs,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
             AS total_acctbal
         FROM customer c
         WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                              WHERE c2.c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // the executed text is an ordinary query — oracle is its inline form
    "q_execute_immediate" ->
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // semantics across the disjunction; the plan-level ExistenceJoin
    // node is spec-pinned
    "q_existence_join" ->
      """SELECT count(*) AS n_qualifying,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_by_price
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_mktsegment = 'BUILDING')
            OR o_totalprice > 150000""",
    // the table function is a parameterized view — oracle inlines it
    "q_sql_table_udf" ->
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders WHERE o_totalprice > 400000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the SQL UDF inlines at analysis — the oracle is the expression
    "q_sql_udf" ->
      """SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // three-valued logic: the NULL-bearing NOT IN list empties the first
    // count on BOTH engines; the anti-join legs agree with each other
    "q_not_in_nulls" ->
      """SELECT
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN
              (SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END
               FROM customer)) AS n_not_in_with_nulls,
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer WHERE c_acctbal < 0)) AS n_not_in_clean,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS
              (SELECT 1 FROM customer c
               WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey)) AS n_not_exists""",
    // sum(bigint) is HUGEINT in DuckDB — cast back so dtypes match Spark
    "q_cte" ->
      """WITH big_orders AS (
           SELECT o_custkey, count(*) AS n_big,
                  round(sum(o_totalprice), 2) AS big_total
           FROM orders WHERE o_totalprice > 100000
           GROUP BY o_custkey
         ),
         segment_stats AS (
           SELECT c.c_mktsegment, count(*) AS n_customers,
                  CAST(sum(b.n_big) AS BIGINT) AS n_big_orders,
                  round(sum(b.big_total), 2) AS segment_total
           FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
           GROUP BY c.c_mktsegment
         )
         SELECT c_mktsegment, n_customers, n_big_orders, segment_total
         FROM segment_stats ORDER BY c_mktsegment""",
    "q_recursive_cte" ->
      """WITH RECURSIVE months (m) AS (
           SELECT 1 AS m
           UNION ALL
           SELECT m + 1 FROM months WHERE m < 12
         )
         SELECT m.m AS month,
                count(o.o_orderkey) AS n_orders,
                round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
         FROM months m
         LEFT JOIN orders o
           ON year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = m.m
         GROUP BY m.m ORDER BY m.m""",
    // DuckDB's ranking fns return BIGINT where Spark's are INT — cast
    "q_window_sql" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(row_number() OVER w AS INTEGER) AS rn,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                round(sum(c_acctbal) OVER (
                  PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_bal
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_custkey""",
    "q_lateral_view" ->
      """SELECT doc_id, count(*) AS n_long
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents)
         WHERE length(tok) >= 8
         GROUP BY doc_id ORDER BY doc_id""",
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_skew_salted" ->
      """SELECT o_orderstatus, count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // integer-cents sum: order-invariant under the engine's round-robin
    // spread (same convention as sink_incremental)
    "join_skew_aqe" ->
      """SELECT o_orderstatus, count(*) AS n_items,
         round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_price
         FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1
                      ELSE l_orderkey END AS jk, l_extendedprice
               FROM lineitem) f
         JOIN (SELECT o_orderkey AS jk, o_orderstatus FROM orders) d
           USING (jk)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // oracle = the naive cross join + distance predicate; the grid
    // decomposition must be semantically invisible
    "join_geo" ->
      """WITH c AS (SELECT c_custkey, (c_custkey * 7919) % 10000 AS cx,
                           (c_custkey * 104729) % 10000 AS cy FROM customer),
              s AS (SELECT s_suppkey, (s_suppkey * 7919) % 10000 AS sx,
                           (s_suppkey * 104729) % 10000 AS sy FROM supplier)
         SELECT c_custkey, s_suppkey,
                (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) AS dist2
         FROM c CROSS JOIN s
         WHERE (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) <= 250000
         ORDER BY c_custkey, s_suppkey""",
    // oracle = the naive theta join; the time-cell decomposition and the
    // overlap-start-cell dedup rule must be semantically invisible
    "join_interval" ->
      """WITH iv AS (SELECT o_orderkey AS id, o_custkey % 100 AS tenant,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS s,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               + 1 + o_orderkey % 14 AS e
           FROM orders)
         SELECT a.id AS a_id, b.id AS b_id,
                CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_days
         FROM iv a JOIN iv b
           ON a.tenant = b.tenant AND a.s < b.e AND b.s < a.e
         WHERE a.id % 2 = 0 AND b.id % 2 = 1
         ORDER BY a_id, b_id""",
    // DPP is a SCAN optimization — results equal the unpartitioned join
    "join_dpp" ->
      """WITH dim AS (SELECT DISTINCT CAST(ts AS DATE) AS event_date
           FROM events WHERE day(CAST(ts AS DATE)) <= 7)
         SELECT CAST(f.event_date AS VARCHAR) AS day, count(*) AS n,
           round(sum(f.value), 2) AS sum_value
         FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) f
         JOIN dim USING (event_date)
         GROUP BY f.event_date ORDER BY day""",
    "sink_partitioned" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n,
         count(DISTINCT user_id) AS n_users
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
         GROUP BY 1 ORDER BY 1""",
    // z-order is a LAYOUT move — the 2-D box query must return exactly
    // what the unsorted table returns
    "sink_zorder" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS sum_value
         FROM events
         WHERE user_id BETWEEN 4 AND 11 AND value >= 100.0 AND value < 150.0
         GROUP BY event_type ORDER BY event_type""",
    // §2.4 aggregations
    "agg_hash" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price,
         round(avg(o_totalprice), 2) AS avg_price,
         round(min(o_totalprice), 2) AS min_price,
         round(max(o_totalprice), 2) AS max_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_global" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_extendedprice), 2) AS avg_price,
         min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         FROM lineitem""",
    "agg_count_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_stats" ->
      """SELECT l_returnflag,
         round(stddev_samp(l_quantity), 4) AS sd_samp,
         round(stddev_pop(l_quantity), 4) AS sd_pop,
         round(var_samp(l_quantity), 4) AS var_samp,
         round(var_pop(l_quantity), 4) AS var_pop,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_collect" ->
      """SELECT n_regionkey,
         array_to_string(list_sort(list(n_name)), ',') AS nations,
         array_to_string(list_sort(list(DISTINCT n_nationkey)), ',') AS nation_keys
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "agg_first_last" ->
      """SELECT o_custkey,
         max_by(o_totalprice, o_orderkey) AS latest_price,
         min_by(o_totalprice, o_orderkey) AS first_price,
         max(o_orderkey) AS latest_key,
         count(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_rows,
         grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid""",
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_extendedprice), 2) AS sum_price,
         count(*) AS n_rows,
         grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         round(sum(o_totalprice), 2) AS sum_price,
         count(*) AS n_rows,
         grouping_id(o_orderstatus, o_orderpriority) AS gid
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, gid""",
    "agg_pivot" ->
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
         count(*) FILTER (WHERE l_linestatus = 'O') AS n_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // §2.5 windows
    "win_row_number" ->
      """SELECT user_id, event_id AS latest_event, epoch_us(ts) AS ts_us, event_type
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "win_rank_dense" ->
      """SELECT p_partkey, p_brand, p_size,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         round(percent_rank() OVER w, 6) AS prnk,
         CAST(ntile(4) OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS INTEGER) AS quartile
         FROM part
         WINDOW w AS (PARTITION BY p_brand ORDER BY p_size)
         ORDER BY p_partkey""",
    "win_lag_lead" ->
      """SELECT event_id, user_id, round(value, 4) AS value,
         round(lag(value, 1) OVER w, 4) AS prev_value,
         round(lead(value, 1) OVER w, 4) AS next_value,
         round(value - lag(value, 1) OVER w, 4) AS delta
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ORDER BY event_id""",
    "win_running" ->
      """SELECT event_id, user_id,
         round(sum(value) OVER w, 4) AS running_value,
         count(*) OVER w AS running_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "win_sliding_frame" ->
      """SELECT event_id, user_id,
         round(avg(value) OVER w, 4) AS moving_avg,
         count(*) OVER w AS frame_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "win_range_frame" ->
      """SELECT event_id, user_id,
         round(sum(value) OVER w, 4) AS hour_value,
         count(*) OVER w AS hour_n
         FROM (SELECT *, epoch_us(ts) // 1000000 AS epoch_s FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "win_topk_per_group" ->
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER
                 (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    // §2.6 sorts / limits / top-k
    "sort" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
         FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC""",
    "limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 100""",
    "topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    // CONTENT oracle: sortWithinPartitions is a row-preserving physical
    // reorder, so the unsorted table is the exact multiset the operator
    // must return (the driver compare canonicalizes row order). The
    // partition-local ORDER itself is invisible to a content hash and
    // stays pinned by its scalatest invariant spec (OperatorSpec).
    "sort_within_partitions" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate
         FROM lineitem""",
    // §2.7 set operations
    "union" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_totalprice, 1 AS page FROM orders
           WHERE o_totalprice < 50000
           UNION ALL
           SELECT o_orderkey, o_totalprice, 2 AS page FROM orders
           WHERE o_totalprice >= 150000)
         ORDER BY o_orderkey, page""",
    // the early page backfills NULL for the late-added column
    "union_evolved" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, NULL AS priority FROM orders
           WHERE o_orderkey % 4 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_orderpriority AS priority
           FROM orders WHERE o_orderkey % 4 = 1)
         ORDER BY o_orderkey""",
    "intersect" ->
      """SELECT c_nationkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
         INTERSECT
         SELECT c_nationkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 1
         ORDER BY c_nationkey, c_mktsegment""",
    "except" ->
      """SELECT o_custkey FROM orders
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
         ORDER BY o_custkey""",
    "except_all" ->
      """SELECT o_custkey, count(*) AS surplus FROM (
           SELECT o_custkey FROM orders
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
         GROUP BY o_custkey ORDER BY o_custkey""",
    "intersect_all" ->
      """SELECT o_custkey, count(*) AS n_common FROM (
           SELECT o_custkey FROM orders WHERE o_orderkey % 3 <> 0
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
         GROUP BY o_custkey ORDER BY o_custkey""",
    // §2.8 scalar function families
    "fn_string" ->
      """SELECT doc_id,
         upper(lang) AS lang_uc,
         CAST(length(text) AS INTEGER) AS text_len,
         substring(text, 1, 12) AS prefix,
         split_part(text, ' ', 1) AS first_tok,
         concat_ws('-', lang, source) AS lang_src,
         lpad(lang, 5, '*') AS lang_pad,
         trim('  pad  ') AS trimmed,
         CAST(strpos(text, 'a') AS INTEGER) AS first_a,
         regexp_extract(text, '([a-z]+)', 1) AS first_word,
         regexp_replace(source, '[0-9]+', '#', 'g') AS src_masked
         FROM documents ORDER BY doc_id""",
    "fn_datetime" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(month(o_orderdate) AS INTEGER) AS mo,
         CAST(day(o_orderdate) AS INTEGER) AS dom,
         CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
         CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
         CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
         CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER) AS days_to_99,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
         FROM orders ORDER BY o_orderkey""",
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
         abs(l_quantity - 25) AS qty_dev,
         CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
         CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
         round(pow(l_discount + 1, 2), 6) AS disc_sq,
         round(ln(l_extendedprice), 6) AS price_ln,
         round(sqrt(l_quantity), 6) AS qty_sqrt,
         greatest(l_discount, l_tax) AS max_rate,
         least(l_discount, l_tax) AS min_rate,
         CAST(l_quantity % 7 AS INT) AS qty_mod
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // nullif makes the zero-divisor NULL explicitly, so the oracle
    // states try_divide's contract independent of DuckDB's float-division
    // semantics (>=1.1 defaults ieee_floating_point_ops=true, where a
    // DOUBLE x/0.0 would return inf instead of NULL)
    "fn_try" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice / nullif(l_quantity % 7, 0), 6) AS price_per_mod,
         l_quantity / nullif(l_discount - l_discount, 0) AS always_null,
         round(l_extendedprice + l_tax, 6) AS sum_ok,
         round(l_extendedprice * 0.5, 6) AS half_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "fn_conditional" ->
      """SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 'overdrawn'
              WHEN c_acctbal < 5000 THEN 'standard'
              ELSE 'premium' END AS tier,
         coalesce(nullif(c_mktsegment, 'BUILDING'), 'RESIDENTIAL') AS segment,
         coalesce(nullif(c_nationkey, 0), -1) AS nation_or_neg,
         round(greatest(c_acctbal, 0.0), 2) AS bal_clamped
         FROM customer ORDER BY c_custkey""",
    "fn_array" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_toks,
         array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
         array_to_string(list_sort(list_distinct(toks)), ',') AS vocab,
         list_contains(toks, 'data') AS has_data,
         CAST(len(list_filter(toks, t -> length(t) > 4)) AS INTEGER) AS n_long,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS INT) AS char_sum,
         list_contains(toks, 'the') AS has_the
         FROM t ORDER BY doc_id""",
    "fn_map" ->
      """SELECT event_id,
         'type,uid' AS ks,
         concat_ws(',', event_type, CAST(user_id AS VARCHAR)) AS vs,
         event_type AS type_via_map,
         2 AS n_entries
         FROM events ORDER BY event_id""",
    "fn_json" ->
      """SELECT event_id,
         json_extract_string(props, '$.k') AS k_str,
         CAST(json_extract(props, '$.k') AS INT) AS k_int,
         CAST(json_extract(props, '$.k') AS INT) * 2 AS k_doubled,
         CAST(length(props) AS INTEGER) AS props_len
         FROM events ORDER BY event_id""",
    "fn_hash" ->
      """SELECT doc_id, sha256(text) AS sha, md5(text) AS mdfive
         FROM documents ORDER BY doc_id""",
    // DuckDB ^ is POWER (xor() is the operator) and bit_count is TINYINT
    "fn_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
         (l_orderkey & 255) AS and_low,
         (l_orderkey | 16) AS or_flag,
         xor(l_orderkey, l_partkey) AS xor_mix,
         (l_linenumber << 3) AS shl,
         (l_orderkey >> 4) AS shr,
         CAST(bit_count(l_orderkey) AS INTEGER) AS popcount
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // regexp_count has no DuckDB twin (len of extract_all, cast — DuckDB
    // len is BIGINT, Spark regexp_count INT); replace needs the 'g' flag
    // (DuckDB is first-match by default, Spark is always global); both
    // engines return '' for a no-match regexp_extract
    "fn_regexp" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[aeiou][aeiou]')) AS INTEGER) AS n_vv,
         regexp_extract(text, '([a-z]{8,})', 1) AS first_long,
         regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled,
         coalesce(array_to_string(
             regexp_extract_all(text, '\b[a-z]{3}\b'), '|'), '')
           AS three_letter
         FROM documents ORDER BY doc_id""",
    // the ciphertext is engine-internal (GCM IV is random by design);
    // the DATA-visible contract is the round-trip and the fail-closed
    // wrong-key NULL — both replayed here
    "fn_aes" ->
      """SELECT doc_id, text AS text_rt, true AS wrong_key_rejected
         FROM documents ORDER BY doc_id""",
    // unwrapped base64 on both engines; hex is uppercase on both
    "fn_encoding" ->
      """SELECT doc_id,
         to_base64(text::BLOB) AS b64,
         text AS b64_rt,
         hex(text::BLOB) AS hx,
         ascii(text) AS first_code,
         chr(ascii(text)) AS first_char
         FROM documents ORDER BY doc_id""",
    // WITHIN GROUP (ORDER BY doc_id) = string_agg's ORDER BY clause
    "fn_listagg" ->
      """SELECT lang,
         string_agg(substring(text, 1, 8), '|' ORDER BY doc_id) AS prefixes,
         count(*) AS n
         FROM documents GROUP BY lang ORDER BY lang""",
    // mask() semantics rebuilt as class-wise regex replaces: default set
    // X/x/n with others untouched; custom set A/a/9 with others -> '*'
    "fn_mask" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           upper(substring(text, 1, 6)) || ' Doc' || CAST(doc_id AS VARCHAR),
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
           AS masked_default,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(source,
           '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g'),
           '[^Aa9]', '*', 'g') AS masked_custom
         FROM documents ORDER BY doc_id""",
    "fn_fuzzy" ->
      """WITH p AS (SELECT doc_id, substring(text, 1, 15) AS prefix FROM documents)
         SELECT doc_id, prefix,
           CAST(levenshtein(prefix, 'the quick brown') AS INTEGER) AS edit_dist,
           round(1.0 - levenshtein(prefix, 'the quick brown')::DOUBLE /
                 greatest(length(prefix), 15), 6) AS similarity
         FROM p ORDER BY doc_id""",
    // §2.11 [EXT] LLM-data-pipeline operators
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keep_id""",
    // the production banded pairs joined to the hash-split map; a
    // cross-split pair touching an eval split is a leak
    "pipeline_leakage_audit" ->
      s"""$nearDupCte,
         sp AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                    THEN 'val'
                  ELSE 'test' END AS split FROM documents),
         p AS (SELECT doc_a, doc_b, round(jac, 6) AS jac FROM j
               WHERE round(jac, 6) >= 0.6)
         SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs,
           round(min(jac), 6) AS min_jac,
           round(max(jac), 6) AS max_jac,
           (sa.split <> sb.split AND (sa.split IN ('val', 'test')
              OR sb.split IN ('val', 'test'))) AS is_leak
         FROM p JOIN sp sa ON sa.doc_id = p.doc_a
                JOIN sp sb ON sb.doc_id = p.doc_b
         GROUP BY sa.split, sb.split ORDER BY split_a, split_b""",
    "dedup_near" ->
      s"""$nearDupCte
         SELECT doc_a, doc_b, round(jac, 6) AS jac FROM j
         WHERE round(jac, 6) >= 0.6 ORDER BY doc_a, doc_b""",
    // sampled exact-Jaccard ground truth vs the banded pairs, pair-for-
    // pair (precision is 1 by construction — every emitted pair is
    // exact-verified; recall is what banding owes)
    "dedup_near_recall" ->
      s"""$nearDupCte,
         pr AS (SELECT doc_id AS p, sh AS shp FROM s
                WHERE doc_id % (SELECT greatest(20, count(*) // 100)
                                FROM documents) = 0),
         ex0 AS (SELECT least(pr.p, s.doc_id) AS doc_a,
             greatest(pr.p, s.doc_id) AS doc_b,
             round(len(list_intersect(s.sh, pr.shp))::DOUBLE /
               (len(s.sh) + len(pr.shp) - len(list_intersect(s.sh, pr.shp))), 6)
               AS jac
           FROM s CROSS JOIN pr WHERE s.doc_id <> pr.p),
         ex AS (SELECT DISTINCT doc_a, doc_b FROM ex0 WHERE jac >= 0.6),
         g2 AS (SELECT doc_a, doc_b FROM j WHERE round(jac, 6) >= 0.6)
         SELECT count(*) AS k_eval,
           CAST(sum(CASE WHEN g2.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(CAST(sum(CASE WHEN g2.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS recall
         FROM ex LEFT JOIN g2 ON g2.doc_a = ex.doc_a AND g2.doc_b = ex.doc_b""",
    // decile boundaries fold identical IEEE doubles on both engines
    "dedup_threshold_sweep" ->
      s"""$nearDupCte
         SELECT CAST(floor(round(jac, 6) * 10) AS INTEGER) AS decile,
           count(*) AS n_pairs,
           round(min(round(jac, 6)), 6) AS min_jac,
           round(max(round(jac, 6)), 6) AS max_jac
         FROM j GROUP BY 1 ORDER BY decile""",
    // same oracle as dedup_near by construction: the pruned form changes
    // DAG economics (kernel materialized once, verify narrowed to
    // candidates), never the result
    "dedup_near_pruned" ->
      s"""$nearDupCte
         SELECT doc_a, doc_b, round(jac, 6) AS jac FROM j
         WHERE round(jac, 6) >= 0.6 ORDER BY doc_a, doc_b""",
    // asymmetric probe: corpus-side (%10<>0) buckets are the index
    // (capped at build), delta docs (%10=0) probe them; pairs are
    // (new, ref) — never delta×delta or corpus×corpus
    "dedup_incremental" ->
      s"""WITH ${nearDupBandCtes("documents")},
         bsz AS (SELECT band, sig FROM b WHERE doc_id % 10 <> 0
                 GROUP BY band, sig HAVING count(*) <= 64),
         cand AS (SELECT DISTINCT d.doc_id AS doc_new, c.doc_id AS doc_ref
                  FROM b d JOIN b c ON d.band = c.band AND d.sig = c.sig
                  JOIN bsz ON bsz.band = d.band AND bsz.sig = d.sig
                  WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
         j AS (SELECT doc_new, doc_ref,
                len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
               FROM cand JOIN s sa ON sa.doc_id = doc_new
                         JOIN s sb ON sb.doc_id = doc_ref)
         SELECT doc_new, doc_ref, round(jac, 6) AS jac FROM j
         WHERE round(jac, 6) >= 0.6 ORDER BY doc_new, doc_ref""",
    // Exact fixpoint oracle: the Spark side iterates min-label
    // propagation to convergence, so the oracle computes the true
    // per-component minimum via recursive transitive closure (UNION
    // dedups, so the recursion terminates; components are tiny).
    "dedup_clusters" ->
      s"""${nearDupCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         pairs AS (SELECT doc_a, doc_b FROM j WHERE round(jac, 6) >= 0.6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT src AS id, src AS via FROM edges
                   UNION
                   SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.via)
         SELECT id AS doc_id, min(via) AS cluster_rep FROM reach
         GROUP BY id ORDER BY doc_id""",
    // same fixpoint labels + keep the most-token member (ties -> smaller id)
    "dedup_keep_best" ->
      s"""${nearDupCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         pairs AS (SELECT doc_a, doc_b FROM j WHERE round(jac, 6) >= 0.6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT src AS id, src AS via FROM edges
                   UNION
                   SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.via),
         lab AS (SELECT id AS doc_id, min(via) AS cluster_rep FROM reach
                 GROUP BY id),
         scored AS (SELECT l.cluster_rep, l.doc_id,
             len(list_filter(str_split(d.text, ' '), x -> x <> ''))::BIGINT
               AS n_toks
           FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
         r AS (SELECT cluster_rep, doc_id, n_toks, row_number() OVER
             (PARTITION BY cluster_rep ORDER BY n_toks DESC, doc_id) AS rn
           FROM scored)
         SELECT cluster_rep,
           max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
           max(n_toks) AS keep_toks,
           count(*) AS n_members
         FROM r GROUP BY cluster_rep ORDER BY cluster_rep""",
    "sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         SELECT vec_id,
           round(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
         FROM e, q ORDER BY cos DESC, vec_id LIMIT 10""",
    "sim_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id % 25 = 0),
         c AS (SELECT probe_id, vec_id,
                 round(list_dot_product(v, pv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6) AS cos
               FROM e, p WHERE vec_id <> probe_id),
         f AS (SELECT probe_id, vec_id, cos, row_number() OVER
                 (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn
               FROM c WHERE cos >= 0.3)
         SELECT probe_id, CAST(rn AS INTEGER) AS rn, vec_id, cos
         FROM f WHERE rn <= 3
         ORDER BY probe_id, rn""",
    "text_tokens" ->
      """SELECT token, count(*) AS tf
         FROM (SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents)
         WHERE token <> '' GROUP BY token ORDER BY token""",
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
         round(avg(length(text)), 4) AS avg_chars,
         round(avg(len(str_split(text, ' '))), 4) AS avg_toks,
         CAST(sum(n_chars) AS BIGINT) AS total_chars_meta,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",
    "multimodal_cols" ->
      """SELECT d.doc_id, d.lang,
         CAST(octet_length(encode(d.text)) AS INTEGER) AS payload_bytes,
         hex(encode(d.text)) AS payload,
         round(CAST(e.embedding[1] AS DOUBLE), 6) AS dim0,
         round(CAST(e.embedding[64] AS DOUBLE), 6) AS dim63
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         WHERE len(e.embedding) = 64 ORDER BY d.doc_id""",
    // same sha256 hex over the same UTF-8 bytes on both sides; the
    // conflict audit counts distinct rounded first components per digest
    "dedup_binary" ->
      """WITH j AS (SELECT d.doc_id, sha256(d.text) AS digest,
             octet_length(encode(d.text)) AS pb,
             round(CAST(e.embedding[1] AS DOUBLE), 6) AS dim0
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         g AS (SELECT digest, pb, min(doc_id) AS keep_id,
             count(*) AS n_copies, count(DISTINCT dim0) AS n_distinct_emb
           FROM j GROUP BY digest, pb)
         SELECT digest, CAST(pb AS INTEGER) AS payload_bytes, keep_id,
           n_copies, n_distinct_emb, n_distinct_emb > 1 AS embeddings_conflict
         FROM g ORDER BY keep_id""",
    // §2.1 sources / sinks — oracles run on the ORIGINAL parquet: the
    // format round-trip must be lossless for these to hash-match.
    "scan_json" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // observe() metrics are out-of-band — the data result is the plain
    // cleaned load (the spec asserts the observed metrics themselves)
    "scan_observed" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders WHERE o_totalprice > 0 ORDER BY o_orderkey""",
    "scan_csv" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",
    "scan_orc" ->
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
         FROM supplier WHERE s_acctbal > 1000 ORDER BY s_suppkey""",
    // the XML round-trip must be lossless; the float column travels as
    // integer cents (decimal-text float round-trips are the lossy edge)
    "scan_xml" ->
      """SELECT s_suppkey, s_name, s_nationkey,
         CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
         FROM supplier ORDER BY s_suppkey""",
    // retention drops load 1's partition; loads 2 and 3 survive complete
    "sink_retention" ->
      """SELECT load_id, count(*) AS n, min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
         FROM (SELECT o_orderkey, 2 AS load_id FROM orders WHERE o_orderkey % 3 = 1
               UNION ALL
               SELECT o_orderkey, 3 AS load_id FROM orders WHERE o_orderkey % 3 = 2) t
         GROUP BY load_id ORDER BY load_id""",
    // the tricky value is constructed, so the oracle rebuilds it — the
    // quoted/escaped CSV round-trip must be lossless
    "scan_csv_quoted" ->
      """SELECT n_nationkey, n_name || ',"' || chr(10) || n_name AS tricky
         FROM nation ORDER BY n_nationkey""",
    // one text file per doc (writer appends '\n'); blob equality by
    // content digest — strlen is BYTES on this ASCII corpus
    "scan_binary" ->
      """SELECT doc_id, CAST(strlen(text) + 1 AS BIGINT) AS length,
         sha256(text || chr(10)) AS sha
         FROM documents ORDER BY doc_id""",
    // text-source round-trip must be lossless vs the original table; the
    // n_fields=2 prediction doubles as the no-tabs-in-payload audit
    "scan_text" ->
      """SELECT doc_id, text AS text_rt, 2 AS n_fields
         FROM documents ORDER BY doc_id""",
    "win_value_fns" ->
      """SELECT p_partkey, p_brand, p_size,
         first_value(p_partkey) OVER wf AS smallest_part,
         last_value(p_partkey) OVER wf AS largest_part,
         nth_value(p_partkey, 2) OVER wf AS second_part,
         round(cume_dist() OVER w, 6) AS cdist
         FROM part
         WINDOW w AS (PARTITION BY p_brand ORDER BY p_size, p_partkey),
                wf AS (PARTITION BY p_brand ORDER BY p_size, p_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY p_partkey""",
    // island key = epoch-days − row_number, pure integer on both engines;
    // longest-streak tie breaks toward the latest start via the ranked CTE
    "win_streak" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         r AS (SELECT user_id, d,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
           FROM days),
         isl AS (SELECT user_id, d,
             datediff('day', DATE '2024-01-01', d) - rn AS g FROM r),
         s AS (SELECT user_id, g, CAST(count(*) AS BIGINT) AS len,
             min(d) AS start_d FROM isl GROUP BY user_id, g),
         rk AS (SELECT user_id, len, start_d,
             row_number() OVER (PARTITION BY user_id
               ORDER BY len DESC, start_d DESC) AS sr FROM s)
         SELECT user_id, count(*) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           max(len) AS longest,
           CAST(max(CASE WHEN sr = 1 THEN start_d END) AS VARCHAR) AS longest_start
         FROM rk GROUP BY user_id ORDER BY user_id""",
    "win_sessionize" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT user_id, event_id, ts_us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM g)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us, min(event_id) AS first_event
         FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",
    // standard ntile rule on both engines (leading buckets absorb the
    // remainder); (price, key) order makes bands tie-deterministic
    "win_ntile" ->
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS band
         FROM orders ORDER BY o_orderkey""",
    "win_distinct_sliding" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(len(list_distinct(list(event_type) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))) AS INTEGER)
             AS n_types_8
         FROM events ORDER BY user_id, ts_us, event_id""",
    // named window resolves to ONE Window operator shared by all three fns
    "q_named_window" ->
      """SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           round(sum(o_totalprice) OVER w, 2) AS run_total,
           round(max(o_totalprice) OVER w, 2) AS run_max
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""",
    "win_median_sliding" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
           FROM events)
         SELECT user_id, event_id, ts_us,
           round(median(value) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_median
         FROM b ORDER BY user_id, ts_us, event_id""",
    // frame-bounded OLS sufficient sums; NULL guard on degenerate frames
    // (IEEE inf/nan would hash engine-specifically)
    // both medians from the frame-bounded sorted array; 9-integer medians
    // are integer-or-half values, exact in double on both engines
    "win_mad_outlier" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS y FROM events),
         w AS (SELECT user_id, event_id, y,
             list_sort(list(y) OVER f) AS arr
           FROM b WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)),
         m AS (SELECT user_id, event_id, y, arr,
             (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1])::DOUBLE / 2.0
               AS med
           FROM w),
         d AS (SELECT user_id, event_id, y, arr, med,
             list_sort(list_transform(arr, x -> abs(x::DOUBLE - med))) AS ma
           FROM m)
         SELECT user_id, event_id, y, med,
           (ma[(len(ma) + 1) // 2] + ma[len(ma) // 2 + 1]) / 2.0 AS mad,
           (len(arr) >= 9 AND abs(y::DOUBLE - med) >
             3.0 * (ma[(len(ma) + 1) // 2] + ma[len(ma) // 2 + 1]) / 2.0)
             AS is_outlier
         FROM d ORDER BY user_id, event_id""",
    // conditional max over the preceding frame = last-touch credit;
    // organic purchases carry NULLs on both engines
    "win_attribution" ->
      """WITH b AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         w AS (SELECT event_id, user_id, event_type, ts_us,
             max(CASE WHEN event_type = 'click' THEN ts_us END) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
           FROM b)
         SELECT event_id, user_id,
           ts_us // 1000000 AS purchase_s,
           last_click_us // 1000000 AS click_s,
           (ts_us - last_click_us) // 1000000 AS latency_s
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",
    "win_rolling_regression" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS y FROM events),
         wx AS (SELECT user_id, event_id, ts_us, y,
             CAST(row_number() OVER w AS BIGINT) AS x
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT user_id, x, y,
             CAST(count(*) OVER f AS BIGINT) AS n,
             CAST(sum(x) OVER f AS BIGINT) AS sx,
             CAST(sum(y) OVER f AS BIGINT) AS sy,
             CAST(sum(x * y) OVER f AS BIGINT) AS sxy,
             CAST(sum(x * x) OVER f AS BIGINT) AS sxx
           FROM wx WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT user_id, x AS rn, y,
           CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                THEN round((n * sxy - sx * sy)::DOUBLE
                           / (n * sxx - sx * sx)::DOUBLE, 6) END AS slope5
         FROM s ORDER BY user_id, rn""",
    "win_pct_change" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             round(value, 4) AS v FROM events),
         l AS (SELECT user_id, event_id, v, lag(v) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_v
           FROM b)
         SELECT user_id, event_id, v,
           round(v - prev_v, 4) AS delta,
           round(CASE WHEN prev_v <> 0
                 THEN (v - prev_v) / abs(prev_v) * 100 END, 4) AS pct_change
         FROM l ORDER BY user_id, event_id""",
    "win_gap_fill" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_id % 3 = 0 THEN round(value, 4) END AS v_sparse
           FROM events)
         SELECT user_id, event_id, v_sparse,
           last_value(v_sparse IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS UNBOUNDED PRECEDING) AS v_filled
         FROM b ORDER BY user_id, event_id""",
    // the oracle PREDICTS the HLL sketch lands within 5% of exact: a
    // broken sketch implementation fails this row rather than hiding
    // behind a no-oracle marker
    // `true AS approx_ok` is a DATASET-PINNED fact: the engine's band is
    // DERIVED as 3×rsd (≈99.7% confidence), so it transfers to any scale
    // factor with the same confidence; a flip indicates a real sketch
    // regression (or an unlucky 0.3% draw — rerun before suspecting it).
    "agg_approx_distinct_checked" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_exact,
         true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // r9: formerly the registry's single no-oracle entry — now the same
    // derived-band checked contract over BOTH sketched columns
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(DISTINCT l_suppkey) AS exact_supps,
         count(*) AS n_rows,
         true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // DataSketches HLL: per-group estimate + sketch-union both within 5%
    "agg_hll_sketch" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_exact,
         true AS est_ok, true AS union_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // DataSketches THETA: exact overlap algebra + set-op verdicts within
    // 5% of the union cardinality (theta error scales with the sets)
    "agg_theta_sketch" ->
      """WITH k AS (SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk
                    FROM lineitem),
         c AS (SELECT flag, count(*) AS n FROM k GROUP BY flag),
         i AS (SELECT a.flag AS fa, b.flag AS fb, count(*) AS n_inter_exact
               FROM k a JOIN k b ON a.pk = b.pk AND a.flag < b.flag
               GROUP BY 1, 2)
         SELECT fa, fb, n_inter_exact,
           ca.n + cb.n - n_inter_exact AS n_union_exact,
           ca.n - n_inter_exact AS n_diff_exact,
           true AS inter_ok, true AS union_ok, true AS diff_ok
         FROM i JOIN c ca ON ca.flag = i.fa JOIN c cb ON cb.flag = i.fb
         ORDER BY fa, fb""",
    // frequent-items sketch in its exact regime: the returned top-3 set
    // IS the true top-3 (counts well separated in the fixture) and each
    // carries its exact count
    "agg_approx_topk_checked" ->
      """SELECT event_type, n_exact, true AS est_ok FROM (
           SELECT event_type, count(*) AS n_exact FROM events
           GROUP BY event_type ORDER BY n_exact DESC, event_type LIMIT 3)
         ORDER BY event_type""",
    // same derived-band contract as agg_approx_distinct_checked: the
    // oracle predicts the merged daily sketches land within 3×rse of exact
    "agg_sketch_rollup" ->
      """SELECT event_type,
         count(DISTINCT user_id) AS exact_users,
         true AS approx_ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    // distinct (user, day) first, so n_users = count(*) per cell
    "agg_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
         SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
           count(*) AS n_users
         FROM d JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // per-user lead over (ts, event_id) — the same total order both
    // engines; the matrix and ppm probabilities close in integers
    "events_transitions" -> eventsTransitionsOracleSql,
    // batch equivalence: per-user last-event state emits the identical
    // pair stream, rolled up by the shared transitionMatrix kernel
    "stream_transitions" -> eventsTransitionsOracleSql,
    // batch equivalence UNDER DISORDERED ARRIVAL: the watermark-buffered
    // fold consumes each event only once proven complete, so the pair
    // stream is identical to the ordered one
    "stream_transitions_ooo" -> eventsTransitionsOracleSql,
    "ts_holt_forecast" -> tsHoltForecastOracleSql,
    // per-source ceil(T/B) from ONE token aggregate; the dial is integer
    // arithmetic — (T + B − 1) // B on both engines
    "pipeline_pack_sweep" ->
      """WITH s AS (SELECT source, CAST(sum(len(str_split(text, ' ')))
             AS BIGINT) AS t
           FROM documents GROUP BY source),
         a AS (SELECT CAST(sum((t + 63) // 64) AS BIGINT) AS s64,
             CAST(sum((t + 255) // 256) AS BIGINT) AS s256,
             CAST(sum((t + 1023) // 1024) AS BIGINT) AS s1024,
             CAST(sum(t) AS BIGINT) AS tot
           FROM s)
         SELECT * FROM (
           SELECT 64 AS budget, s64 AS n_sequences,
             s64 * 64 - tot AS waste_toks,
             (tot * 1000000) // (s64 * 64) AS utilization_ppm FROM a
           UNION ALL SELECT 256, s256, s256 * 256 - tot,
             (tot * 1000000) // (s256 * 256) FROM a
           UNION ALL SELECT 1024, s1024, s1024 * 1024 - tot,
             (tot * 1000000) // (s1024 * 1024) FROM a)
         ORDER BY budget""",
    "events_markov_stationary" -> markovStationaryOracle(8),
    // Poisson bootstrap with the md5 coin through literal inverse-CDF
    // thresholds — same doubles, same comparisons, same replica sums;
    // CI = nearest-rank order statistics of the 32 replica means
    "agg_bootstrap_ci" ->
      """WITH r AS (SELECT unnest(range(0, 32)) AS rep),
         c AS (SELECT rep, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             (('0x' || substring(md5('bs' || CAST(rep AS VARCHAR) || '|' ||
                 CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 AS u
           FROM orders CROSS JOIN r),
         kk AS (SELECT rep, cents,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  ELSE 6 END AS k
           FROM c),
         t AS (SELECT count(*)::BIGINT AS n,
             CAST((sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 100)
               // count(*) AS BIGINT) AS mean_point_cc
           FROM orders),
         m AS (SELECT rep,
             CASE WHEN sum(k) = 0 THEN (SELECT mean_point_cc FROM t)
                  ELSE CAST((sum(k * cents) * 100) // sum(k) AS BIGINT)
             END AS mean_cc
           FROM kk GROUP BY rep),
         arr AS (SELECT list_sort(list(mean_cc)) AS ms FROM m)
         SELECT CAST(32 AS INTEGER) AS n_replicas, n, mean_point_cc,
           ms[1] AS boot_p025_cc, ms[32] AS boot_p975_cc
         FROM t CROSS JOIN arr""",
    // same replica fold GROUPED by priority — kernel shared, not forked
    "agg_bootstrap_ci_grouped" ->
      """WITH r AS (SELECT unnest(range(0, 32)) AS rep),
         c AS (SELECT rep, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             (('0x' || substring(md5('bs' || CAST(rep AS VARCHAR) || '|' ||
                 CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 AS u
           FROM orders CROSS JOIN r),
         kk AS (SELECT rep, o_orderpriority, cents,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  ELSE 6 END AS k
           FROM c),
         t AS (SELECT o_orderpriority, count(*)::BIGINT AS n,
             CAST((sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 100)
               // count(*) AS BIGINT) AS mean_point_cc
           FROM orders GROUP BY 1),
         m AS (SELECT kk.o_orderpriority, rep,
             CASE WHEN sum(k) = 0 THEN max(t.mean_point_cc)
                  ELSE CAST((sum(k * cents) * 100) // sum(k) AS BIGINT)
             END AS mean_cc
           FROM kk JOIN t USING (o_orderpriority) GROUP BY 1, 2),
         arr AS (SELECT o_orderpriority, list_sort(list(mean_cc)) AS ms
                 FROM m GROUP BY 1)
         SELECT t.o_orderpriority, CAST(32 AS INTEGER) AS n_replicas, n,
           mean_point_cc, ms[1] AS boot_p025_cc, ms[32] AS boot_p975_cc
         FROM t JOIN arr USING (o_orderpriority)
         ORDER BY o_orderpriority""",
    // ONE lag window; every gap is a conditional count over the same
    // delta stream — boundaries don't move with the dial
    "win_session_gap_sweep" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         d AS (SELECT user_id, ts_us, lag(ts_us, 1) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
               FROM e),
         a AS (SELECT count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             coalesce(sum(CASE WHEN prev_us IS NOT NULL
               AND ts_us - prev_us > 300000000 THEN 1 ELSE 0 END), 0)::BIGINT
               AS b5,
             coalesce(sum(CASE WHEN prev_us IS NOT NULL
               AND ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END), 0)::BIGINT
               AS b30,
             coalesce(sum(CASE WHEN prev_us IS NOT NULL
               AND ts_us - prev_us > 7200000000 THEN 1 ELSE 0 END), 0)::BIGINT
               AS b120
           FROM d)
         SELECT * FROM (
           SELECT 5 AS gap_min, n_users + b5 AS n_sessions,
             (n_events * 1000) // (n_users + b5) AS events_per_session_milli
           FROM a
           UNION ALL SELECT 30, n_users + b30,
             (n_events * 1000) // (n_users + b30) FROM a
           UNION ALL SELECT 120, n_users + b120,
             (n_events * 1000) // (n_users + b120) FROM a)
         ORDER BY gap_min""",
    // engine ntile = bounded-histogram rank + front-loaded closed form,
    // bit-equal to this plain ntile over (metric, user_id)
    "events_rfm" -> eventsRfmOracleSql,
    // the same per-user RFM chain rolled up per segment
    "events_rfm_census" ->
      s"""WITH f AS ($eventsRfmOracleSql)
         SELECT segment, count(*)::BIGINT AS n_users,
           CAST(sum(mon_c) AS BIGINT) AS monetary_c,
           CAST(sum(mon_c) // count(*) AS BIGINT) AS avg_monetary_c
         FROM f GROUP BY segment ORDER BY segment""",
    // first-touch funnel: every step is a conditional MIN in exact epoch
    // micros, so both engines bind each step to the identical event
    "events_funnel" -> eventsFunnelOracleSql,
    // cohort retention: epoch-week indices via integer micros DIV on
    // both engines — no calendar-week-boundary semantics to diverge
    "events_retention" ->
      """WITH wk AS (SELECT user_id,
             epoch_us(ts) // 604800000000 AS wk FROM events),
         fs AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1),
         cs AS (SELECT cohort_wk, count(*)::BIGINT AS cohort_n
                FROM fs GROUP BY 1),
         act AS (SELECT DISTINCT user_id, wk FROM wk),
         cell AS (SELECT cohort_wk, wk - cohort_wk AS k,
             count(*)::BIGINT AS n_active
           FROM act JOIN fs USING (user_id) GROUP BY 1, 2)
         SELECT cohort_wk, k, n_active, cohort_n,
           CAST((n_active * 1000000) // cohort_n AS BIGINT) AS retention_ppm
         FROM cell JOIN cs USING (cohort_wk) ORDER BY cohort_wk, k""",
    // batch equivalence: the stateful stream fold binds the identical
    // first-touch steps (monotone bindings + event-time arrival order)
    "stream_funnel" -> eventsFunnelOracleSql,
    // batch equivalence UNDER DISORDERED ARRIVAL (quarters interleaved
    // q1,q0,q3,q2): watermark-proven prefix folds through the shared
    // funnelStep machine — same bindings as ordered arrival
    "stream_funnel_ooo" -> eventsFunnelOracleSql,
    // same sequential IEEE fold (seeded 0.0) — doubles match bit-for-bit
    "agg_ewma" ->
      """SELECT user_id, count(*) AS n_events,
         round(list_reduce(
           list_prepend(0.0::DOUBLE, list(value ORDER BY epoch_us(ts), event_id)),
           (acc, x) -> acc * 0.8 + 0.2 * x), 6) AS ewma
         FROM events GROUP BY user_id ORDER BY user_id""",
    // oracle = the naive BETWEEN range join the bounded explode replaces
    "agg_rolling_distinct" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
                    WHERE event_type = 'purchase'),
         days AS (SELECT DISTINCT day FROM d)
         SELECT CAST(w.day AS VARCHAR) AS day, count(DISTINCT d.user_id) AS wau
         FROM days w JOIN d ON d.day BETWEEN w.day - 6 AND w.day
         GROUP BY 1 ORDER BY 1""",
    // bitmaps are EXACT — both the direct and the re-merged count must
    // equal count(DISTINCT) itself
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_partkey) AS n_parts_merged
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // max_by/min_by replicated as ranked windows with the same struct
    // tie-break (price, then orderkey)
    "agg_argmax" ->
      """WITH r AS (SELECT l_returnflag, l_orderkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rmin
           FROM lineitem)
         SELECT l_returnflag,
           max(CASE WHEN rmax = 1 THEN l_orderkey END) AS top_price_order,
           max(CASE WHEN rmin = 1 THEN l_orderkey END) AS bottom_price_order,
           max(l_extendedprice) AS max_price,
           min(l_extendedprice) AS min_price
         FROM r GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_count_if" ->
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
         bool_and(l_quantity > 0) AS all_positive,
         bool_or(l_tax > 0.07) AS any_high_tax,
         round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice
                        ELSE 0.0 END), 2) AS discounted_revenue
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // manual UNION ALL melt — portable across DuckDB versions
    "agg_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price,
                round(sum(l_discount), 2) AS sum_disc
              FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM a
         ORDER BY l_returnflag, metric""",
    "q_pivot_sql" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS f,
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the UNPIVOT clause is standard across both engines — same text
    "q_unpivot_sql" ->
      """SELECT metric, round(sum(val), 2) AS total, count(*) AS n
         FROM (SELECT l_quantity, l_discount, l_tax FROM lineitem)
         UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))
         GROUP BY metric ORDER BY metric""",
    "dedup_paragraph" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         base AS (SELECT doc_id, toks,
                   CAST(floor((len(toks) - 1) / 16) + 1 AS INTEGER) AS n_passages FROM t),
         seg0 AS (SELECT doc_id,
                   unnest([{'pos': i, 'passage': array_to_string(toks[i*16+1 : i*16+16], ' ')}
                           FOR i IN range(0, CAST(floor((len(toks) - 1) / 16) + 1 AS INTEGER))]) AS s
                  FROM t),
         seg AS (SELECT doc_id, s.pos AS pos, s.passage AS passage FROM seg0),
         kept AS (SELECT doc_id, pos, passage,
                   row_number() OVER (PARTITION BY passage ORDER BY doc_id, pos) AS rn
                  FROM seg),
         ka AS (SELECT doc_id, count(*) AS n_kept,
                 array_to_string(list(passage ORDER BY pos), ' ') AS cleaned
                FROM kept WHERE rn = 1 GROUP BY doc_id)
         SELECT b.doc_id, b.n_passages,
           CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(ka.cleaned, '') AS cleaned
         FROM base b LEFT JOIN ka USING (doc_id) ORDER BY doc_id""",
    // the bitmap semi-join is semantically invisible: oracle is the plain join
    "join_bloom_pruned" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
         count(DISTINCT o_orderkey) AS n_orders,
         round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 495000
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the engine's 10 Pregel supersteps, unrolled as 10 chained CTEs
    "graph_pagerank" -> pagerankOracleSql(10),
    "graph_pagerank_conv" -> pagerankConvOracleSql(16, 0.25),
    "graph_components_conv" -> componentsConvOracleSql(8),
    // identical semantics served from the stored bucketed layout — the
    // layout round-trip must be invisible to the ranks
    "graph_pagerank_stored" -> pagerankOracleSql(10),
    // content census of the stored adjacency: the oracle rebuilds the
    // undirected chunked layout relationally (chunk rows = ceil(deg /
    // 65536) — 1 per src at any tested SF, kept general on both sides)
    "sink_graph_adjacency" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL
                   SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
         SELECT src % 2 AS side, src % 8 AS bucket,
           count(*) AS n_src,
           CAST(sum(CAST(ceil(outdeg / 65536.0) AS BIGINT)) AS BIGINT)
             AS n_chunk_rows,
           CAST(sum(outdeg) AS BIGINT) AS n_edges,
           max(outdeg) AS max_deg, min(src) AS min_src
         FROM deg GROUP BY side, bucket ORDER BY side, bucket""",
    "graph_components" -> componentsOracleSql(8),
    // identical labels served from the stored bucketed layout
    "graph_components_stored" -> componentsOracleSql(8),
    // mode-of-neighbors with smallest-label tie-break, unrolled rounds
    "graph_label_prop" -> labelPropOracleSql(4),
    "graph_label_prop_conv" -> labelPropConvOracleSql(10),
    "graph_random_walk" -> randomWalkOracleSql(4),
    // identical walks served from the stored bucketed layout
    "graph_random_walk_stored" -> randomWalkOracleSql(4),
    "graph_random_walk_biased" -> randomWalkBiasedOracleSql(4, 2.0, 0.5),
    // identical biased walks served from the stored bucketed layout
    "graph_random_walk_biased_stored" -> randomWalkBiasedOracleSql(4, 2.0, 0.5),
    // the walk corpus self-joined within the window band, pair census
    "graph_walk_pairs" -> {
      val corpus = randomWalkOracleBody(4)
      s"""WITH w AS MATERIALIZED ($corpus)
         SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
         FROM w a JOIN w b ON a.start_id = b.start_id
           AND a.step <> b.step AND abs(a.step - b.step) <= 2
         GROUP BY a.node, b.node ORDER BY center, context"""
    },
    // SGNS training unrolled: the walk-pairs census, md5-rank negatives,
    // two batch-GD rounds over the node-keyed embedding table — the
    // quality-classifier discipline (algebraic sigmoid, per-example
    // integer micro-unit gradients) makes every round bit-replayable
    "pipeline_node_embed" ->
      s"""WITH $nodeEmbedOracleCtes
         SELECT node, ${(1 to 4).map(i => s"CAST(e$i AS BIGINT) AS e$i").mkString(", ")}
         FROM m2 ORDER BY node""",
    // the chain's consumer: nearest nodes by TRAINED-embedding cosine
    // (link prediction off the learned space) — integer micro-unit dot
    // products, round-before-cut top-k per probe
    "pipeline_node_embed_topk" ->
      s"""WITH $nodeEmbedOracleCtes,
         en AS (SELECT node, ${(1 to 4).map(i => s"e$i").mkString(", ")},
                  ${(1 to 4).map(i => s"e$i * e$i").mkString(" + ")} AS nrm2
                FROM m2),
         pr AS (SELECT node AS probe, ${(1 to 4).map(i => s"e$i AS p$i").mkString(", ")},
                  nrm2 AS pn FROM en WHERE node % 64 = 0
                ORDER BY node LIMIT 32),
         sc AS (SELECT pr.probe, en.node,
                  round((${(1 to 4).map(i => s"en.e$i * pr.p$i").mkString(" + ")})::DOUBLE
                    / (sqrt(en.nrm2::DOUBLE) * sqrt(pr.pn::DOUBLE)), 6) AS cos
                FROM en CROSS JOIN pr
                WHERE en.node <> pr.probe AND en.nrm2 > 0 AND pr.pn > 0),
         rk AS (SELECT probe, node, cos, row_number() OVER
                  (PARTITION BY probe ORDER BY cos DESC, node) AS rnk
                FROM sc)
         SELECT probe, CAST(rnk AS INT) AS rank, node, cos
         FROM rk WHERE rnk <= 3 ORDER BY probe, rank""",
    // the SERVED twin: sign-byte cells (bit i set iff e_i > 0), probes
    // rank cells by the exact integer score Σ±p_i and read only their 4
    // best — candidates restricted to probed cells, cosine identical to
    // the brute-force twin's micro-unit arithmetic
    "pipeline_node_embed_served" ->
      s"""WITH $nodeEmbedOracleCtes,
         $nodeEmbedServeCtes,
         rk AS (SELECT probe, node, cos, row_number() OVER
                  (PARTITION BY probe ORDER BY cos DESC, node) AS rnk
                FROM sc)
         SELECT probe, CAST(rnk AS INT) AS rank, node, cos
         FROM rk WHERE rnk <= 3 ORDER BY probe, rank""",
    // recall audit of the served layout vs the exhaustive scan over the
    // SAME stored table: per rank — probes compared, layout hits, exact
    // node agreement, summed cosine gap in micro-units
    "pipeline_node_embed_recall" ->
      s"""WITH $nodeEmbedOracleCtes,
         $nodeEmbedServeCtes,
         sv AS (SELECT probe, rnk AS rank, node, cos FROM
                  (SELECT probe, node, cos, row_number() OVER
                    (PARTITION BY probe ORDER BY cos DESC, node) AS rnk
                   FROM sc)
                WHERE rnk <= 3),
         bsc AS (SELECT pr.probe, en.node,
                  round((${(1 to 4).map(i => s"en.e$i * pr.p$i").mkString(" + ")})::DOUBLE
                    / (sqrt(en.nrm2::DOUBLE) * sqrt(pr.pn::DOUBLE)), 6) AS cos
                FROM en CROSS JOIN pr
                WHERE en.node <> pr.probe AND en.nrm2 > 0 AND pr.pn > 0),
         bt AS (SELECT probe, rnk AS rank, node, cos FROM
                  (SELECT probe, node, cos, row_number() OVER
                    (PARTITION BY probe ORDER BY cos DESC, node) AS rnk
                   FROM bsc)
                WHERE rnk <= 3)
         SELECT CAST(bt.rank AS INT) AS rank, count(*) AS n_probes,
           CAST(sum(CASE WHEN sv.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_served,
           CAST(sum(CASE WHEN sv.node = bt.node THEN 1 ELSE 0 END) AS BIGINT) AS n_same_node,
           CAST(sum(CASE WHEN sv.cos IS NOT NULL
             THEN CAST(round((bt.cos - sv.cos) * 1000000.0) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS cos_gap_micro
         FROM bt LEFT JOIN sv ON sv.probe = bt.probe AND sv.rank = bt.rank
         GROUP BY bt.rank ORDER BY rank""",
    // embedding-quality audit: per true edge, one md5-rank non-edge
    // partner; both pairs scored by trained cosine in integer
    // micro-units (round-before-sum and round-before-compare) — a
    // paired ranking statistic the oracle replays exactly
    "pipeline_node_embed_audit" ->
      s"""WITH $nodeEmbedOracleCtes,
         en2 AS (SELECT node, ${(1 to 4).map(i => s"e$i").mkString(", ")},
                  ${(1 to 4).map(i => s"e$i * e$i").mkString(" + ")} AS nrm2
                FROM m2
                WHERE ${(1 to 4).map(i => s"e$i * e$i").mkString(" + ")} > 0),
         rk2 AS (SELECT node, row_number() OVER (ORDER BY node) AS rnk FROM m2),
         vc2 AS (SELECT count(*) AS v FROM m2),
         eg AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         wn AS (SELECT eg.a, eg.b, r.node AS bneg
                FROM eg CROSS JOIN vc2
                JOIN rk2 r ON r.rnk =
                  ('0x' || substring(md5(eg.a || '|' || eg.b), 1, 8))::BIGINT
                    % vc2.v + 1),
         sc AS (SELECT wn.a,
                  CAST(round((${(1 to 4).map(i => s"ea.e$i * eb.e$i").mkString(" + ")})::DOUBLE
                    / (sqrt(ea.nrm2::DOUBLE) * sqrt(eb.nrm2::DOUBLE))
                    * 1000000.0) AS BIGINT) AS edge_micro,
                  CAST(round((${(1 to 4).map(i => s"ea.e$i * ng.e$i").mkString(" + ")})::DOUBLE
                    / (sqrt(ea.nrm2::DOUBLE) * sqrt(ng.nrm2::DOUBLE))
                    * 1000000.0) AS BIGINT) AS neg_micro
                FROM wn JOIN en2 ea ON ea.node = wn.a
                        JOIN en2 eb ON eb.node = wn.b
                        JOIN en2 ng ON ng.node = wn.bneg)
         SELECT a % 8 AS bucket, count(*) AS n_edges,
           CAST(sum(edge_micro) AS BIGINT) AS edge_mass_micro,
           CAST(sum(neg_micro) AS BIGINT) AS neg_mass_micro,
           CAST(sum(CASE WHEN edge_micro > neg_micro THEN 1 ELSE 0 END) AS BIGINT)
             AS n_edge_wins
         FROM sc GROUP BY 1 ORDER BY bucket""",
    // Pearson over endpoint degrees — exact integer sums, fixed-order
    // closed form (bipartite graphs are disassortative by construction)
    "graph_assortativity" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         xy AS (SELECT dx.deg AS x, dy.deg AS y
                FROM edges e JOIN deg dx ON dx.id = e.src
                             JOIN deg dy ON dy.id = e.dst),
         s AS (SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM xy)
         SELECT n, round(
             (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
             sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                  (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
           AS assortativity
         FROM s""",
    // identical labels served from the stored bucketed layout
    "graph_label_prop_stored" -> labelPropOracleSql(4),
    // Newman Q over the same labels, integer sufficient statistics
    "graph_modularity" -> modularityOracleSql(4),
    // identical Q served from the stored bucketed layout
    "graph_modularity_stored" -> modularityOracleSql(4),
    // two matvecs + L1 normalization per round, re-quantized each half
    "graph_hits" -> hitsOracleSql(6),
    "graph_hits_conv" -> hitsConvOracleSql(10, 1e-6),
    // identical scores served from the stored bucketed layout
    "graph_hits_stored" -> hitsOracleSql(6),
    // peeling trajectory: per-round census of the >=k-degree active set
    "graph_kcore" -> kcoreOracleSql(0.90, 10, 5),
    "graph_ktruss" -> ktrussOracleSql(0.90, 6, 5),
    // identical trajectory served from the stored co-purchase layout
    "graph_ktruss_stored" -> ktrussOracleSql(0.90, 6, 5),
    // identical trajectory served from the stored bucketed layout
    "graph_kcore_stored" -> kcoreOracleSql(0.90, 10, 5),
    // the triangles census at the LAYOUT's 0.90 operating point
    "graph_triangles_stored" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS MATERIALIZED (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS MATERIALIZED (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS MATERIALIZED (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS MATERIALIZED (SELECT quantile_cont(shared, 0.90) AS t FROM co),
         edges AS MATERIALIZED (SELECT s1, s2 FROM co CROSS JOIN thr WHERE shared >= t),
         wedges AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
                    FROM edges e1 JOIN edges e2 ON e1.s2 = e2.s1),
         tri AS (SELECT a, b, c FROM wedges w
                 WHERE EXISTS (SELECT 1 FROM edges e WHERE e.s1 = w.a AND e.s2 = w.c)),
         nodes AS (SELECT unnest([a, b, c]) AS supp_id FROM tri)
         SELECT supp_id, count(*) AS n_triangles
         FROM nodes GROUP BY supp_id
         ORDER BY n_triangles DESC, supp_id LIMIT 10""",
    // per-node coefficient over the same stored-layout edge set: wedge +
    // EXISTS close, degrees off the both-directions table, exact-ppm ratio
    "graph_clustering_coef" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS MATERIALIZED (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS MATERIALIZED (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS MATERIALIZED (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS MATERIALIZED (SELECT quantile_cont(shared, 0.90) AS t FROM co),
         edges AS MATERIALIZED (SELECT s1, s2 FROM co CROSS JOIN thr WHERE shared >= t),
         bi AS (SELECT s1 AS src FROM edges UNION ALL SELECT s2 FROM edges),
         deg AS (SELECT src AS supp_id, count(*)::BIGINT AS deg FROM bi GROUP BY src),
         wedges AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
                    FROM edges e1 JOIN edges e2 ON e1.s2 = e2.s1),
         tri AS (SELECT a, b, c FROM wedges w
                 WHERE EXISTS (SELECT 1 FROM edges e WHERE e.s1 = w.a AND e.s2 = w.c)),
         tpn AS (SELECT supp_id, count(*)::BIGINT AS n_tri FROM
                   (SELECT unnest([a, b, c]) AS supp_id FROM tri)
                 GROUP BY supp_id)
         SELECT d.supp_id, deg, coalesce(n_tri, 0)::BIGINT AS n_tri,
           CAST((coalesce(n_tri, 0) * 2 * 1000000) // (deg * (deg - 1))
             AS BIGINT) AS coef_ppm
         FROM deg d LEFT JOIN tpn USING (supp_id)
         WHERE deg >= 2 ORDER BY supp_id""",
    // layout CONTENT census per logical bucket (physical bucketing is
    // Spark-internal hash, deliberately not replicated)
    "sink_copurchase_layout" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS MATERIALIZED (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS MATERIALIZED (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS MATERIALIZED (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS MATERIALIZED (SELECT quantile_cont(shared, 0.90) AS t FROM co),
         uedges AS MATERIALIZED (SELECT s1, s2 FROM co CROSS JOIN thr WHERE shared >= t),
         edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM uedges
                   UNION ALL SELECT s2, s1 FROM uedges)
         SELECT src % 8 AS bucket, count(*) AS n_edges,
           CAST(count(DISTINCT src) AS BIGINT) AS n_src,
           min(src) AS min_src, max(dst) AS max_dst
         FROM edges GROUP BY bucket ORDER BY bucket""",
    // SemDeDup clusters over the kNN graph: same knnGraphCte, edges cut
    // at cos >= 0.45, six unrolled min-label hops
    "sim_knn_cluster" -> knnClusterOracleSql(0.45, 4),
    // identical clusters served from the stored bucketed kNN layout
    "sim_knn_cluster_stored" -> knnClusterOracleSql(0.45, 4),
    // layout CONTENT census per logical bucket
    "sink_knn_graph" ->
      s"""WITH $knnGraphCte
         SELECT src % 8 AS bucket, count(*) AS n_edges,
           CAST(count(DISTINCT src) AS BIGINT) AS n_src,
           round(min(cos), 6) AS min_cos,
           round(max(cos), 6) AS max_cos
         FROM g GROUP BY bucket ORDER BY bucket""",
    // the incremental maintainer's result is PROVABLY the frozen-corpus-
    // codebook batch graph over corpus + delta (the monotone top-k law),
    // so the oracle is that graph unrolled in SQL: Lloyd trained on the
    // corpus 90% (recency split — delta = top decile of vec_ids, the
    // append-only ingest shape), assignment/probing over everything
    "sink_knn_graph_incremental" ->
      s"""WITH ${knnGraphCteT(
        "vec_id < (SELECT count(*) * 9 // 10 FROM embeddings)")}
         SELECT src % 8 AS bucket, count(*) AS n_edges,
           CAST(count(DISTINCT src) AS BIGINT) AS n_src,
           CAST(count(DISTINCT src) FILTER (
             WHERE src >= (SELECT count(*) * 9 // 10 FROM embeddings))
             AS BIGINT) AS n_delta_src,
           round(min(cos), 6) AS min_cos,
           round(max(cos), 6) AS max_cos
         FROM g GROUP BY bucket ORDER BY bucket""",
    // the refresh drift audit: the frozen-corpus-codebook graph (prefix
    // z) and the fresh full-corpus-codebook graph, both unrolled in the
    // same statement, FULL-JOINed on the edge key; churn cosine mass in
    // exact integer micro-units (summation-order-proof)
    "sink_knn_graph_refresh" ->
      s"""WITH ${knnGraphCteP(
        "vec_id < (SELECT count(*) * 9 // 10 FROM embeddings)", "z")},
         ${knnGraphCteP("", "")}
         SELECT coalesce(a.src, b.src) % 8 AS bucket,
           CAST(count(*) FILTER (WHERE a.src IS NOT NULL AND b.src IS NOT NULL)
             AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE a.src IS NULL) AS BIGINT) AS n_added,
           CAST(count(*) FILTER (WHERE b.src IS NULL) AS BIGINT) AS n_dropped,
           CAST(coalesce(sum(CAST(round(b.cos * 1000000) AS BIGINT))
               FILTER (WHERE a.src IS NULL), 0)
             - coalesce(sum(CAST(round(a.cos * 1000000) AS BIGINT))
               FILTER (WHERE b.src IS NULL), 0) AS BIGINT) AS gain_micro
         FROM zg a FULL JOIN g b ON a.src = b.src AND a.dst = b.dst
         GROUP BY 1 ORDER BY 1""",
    // contrastive mining census over the same graph: positives at
    // cos >= 0.45, hard negatives = retained neighbors below it
    // identical census served from the stored kNN layout
    "pipeline_hard_negatives_stored" ->
      s"""WITH $knnGraphCte
         SELECT src AS anchor,
           CAST(sum(CASE WHEN cos >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(CASE WHEN cos < 0.45 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           max(CASE WHEN cos >= 0.45 THEN cos END) AS best_pos_cos,
           max(CASE WHEN cos < 0.45 THEN cos END) AS best_neg_cos,
           min(CASE WHEN cos < 0.45 THEN dst END) AS first_neg_id
         FROM g GROUP BY src
         HAVING sum(CASE WHEN cos < 0.45 THEN 1 ELSE 0 END) >= 1
         ORDER BY anchor""",
    "pipeline_hard_negatives" ->
      s"""WITH $knnGraphCte
         SELECT src AS anchor,
           CAST(sum(CASE WHEN cos >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(CASE WHEN cos < 0.45 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           max(CASE WHEN cos >= 0.45 THEN cos END) AS best_pos_cos,
           max(CASE WHEN cos < 0.45 THEN cos END) AS best_neg_cos,
           min(CASE WHEN cos < 0.45 THEN dst END) AS first_neg_id
         FROM g GROUP BY src
         HAVING sum(CASE WHEN cos < 0.45 THEN 1 ELSE 0 END) >= 1
         ORDER BY anchor""",
    // min-plus distance propagation, unrolled like the other two
    "graph_bfs" -> bfsOracleSql(6),
    "graph_betweenness" -> betweennessOracleSql(64, 8, 6),
    "graph_betweenness_stored" -> betweennessOracleSql(64, 8, 6),
    "graph_closeness" -> closenessOracleSql(64, 8, 6),
    "graph_closeness_stored" -> closenessOracleSql(64, 8, 6),
    // identical rings served from the stored bucketed layout
    "graph_bfs_stored" -> bfsOracleSql(6),
    // same cap + same exact-percentile edge rule; each triangle counted
    // once via the a<b<c orientation
    "graph_triangles" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS (SELECT quantile_cont(shared, 0.99) AS t FROM co),
         edges AS (SELECT s1, s2 FROM co CROSS JOIN thr WHERE shared >= t),
         wedges AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
                    FROM edges e1 JOIN edges e2 ON e1.s2 = e2.s1),
         tri AS (SELECT a, b, c FROM wedges w
                 WHERE EXISTS (SELECT 1 FROM edges e WHERE e.s1 = w.a AND e.s2 = w.c)),
         nodes AS (SELECT unnest([a, b, c]) AS supp_id FROM tri)
         SELECT supp_id, count(*) AS n_triangles
         FROM nodes GROUP BY supp_id
         ORDER BY n_triangles DESC, supp_id LIMIT 10""",
    "agg_histogram" ->
      """SELECT l_returnflag,
         CAST(floor(l_quantity / 10) AS INTEGER) AS bucket,
         CAST(floor(l_quantity / 10) * 10 AS INTEGER) AS lo,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, bucket, lo
         ORDER BY l_returnflag, bucket""",
    // empirical CDFs on the bounded cent histogram; D = max of rounded
    // per-grid rationals; 1.358 = the alpha=0.05 KS coefficient
    // Spark suffixes pivotValue_aggAlias; nulls where a cell is empty
    "agg_pivot_multi" ->
      """SELECT l_returnflag,
           count(*) FILTER (WHERE l_linestatus = 'F') AS "F_n",
           CAST(floor(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'))
             AS BIGINT) AS "F_qty",
           count(*) FILTER (WHERE l_linestatus = 'O') AS "O_n",
           CAST(floor(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'))
             AS BIGINT) AS "O_qty"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_ks_test" ->
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
             event_type = 'click' AS a
           FROM events WHERE event_type IN ('click', 'view')),
         h AS (SELECT v,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
           FROM b GROUP BY v),
         c AS (SELECT v,
             sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS fa,
             sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS fb
           FROM h),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM h),
         d AS (SELECT na, nb,
             max(round(abs(fa::DOUBLE / na - fb::DOUBLE / nb), 6)) AS ks_d
           FROM c CROSS JOIN t GROUP BY na, nb)
         SELECT na, nb, ks_d,
           round(1.358 * sqrt((na + nb)::DOUBLE / (na::DOUBLE * nb::DOUBLE)), 6)
             AS crit_05,
           ks_d > round(1.358 * sqrt((na + nb)::DOUBLE
             / (na::DOUBLE * nb::DOUBLE)), 6) AS reject_05
         FROM d""",
    // first digit extracted structurally (string head of the integer
    // part) — no float log to disagree on; closed forms at the boundary
    "agg_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS d
           FROM orders),
         c AS (SELECT d, count(*) AS n FROM d WHERE d >= 1 GROUP BY d),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
         SELECT d, n,
           round(n::DOUBLE / t, 6) AS observed,
           round(log10(1.0 + 1.0 / d), 6) AS benford,
           round(abs(n::DOUBLE / t - log10(1.0 + 1.0 / d)), 6) AS abs_dev
         FROM c CROSS JOIN t ORDER BY d""",
    // G = 2*sum(i*x)/(n*sum(x)) - (n+1)/n on exact integer sums; rank is
    // a per-source window with doc_id tie-break
    "agg_gini" ->
      """WITH tk AS (SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           FROM documents),
         r AS (SELECT source, n_toks,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_toks, doc_id) AS BIGINT) AS i
           FROM tk),
         g AS (SELECT source, count(*) AS n,
             CAST(sum(n_toks) AS BIGINT) AS sx,
             CAST(sum(i * n_toks) AS BIGINT) AS six
           FROM r GROUP BY source)
         SELECT source, n, sx,
           round((2.0 * six::DOUBLE) / (n::DOUBLE * sx::DOUBLE)
                 - (n + 1)::DOUBLE / n::DOUBLE, 6) AS gini
         FROM g ORDER BY source""",
    // DuckDB's quantile_disc IS nearest-rank ceil(p*n) — same definition
    "agg_percentile_disc" ->
      """WITH v AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
           quantile_disc(v, 0.25) AS p25_cents,
           quantile_disc(v, 0.50) AS p50_cents,
           quantile_disc(v, 0.95) AS p95_cents
         FROM v GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Welch t per day: exact cent-integer sufficient statistics folded by
    // conditional aggregation, fixed-order closed forms after the boundary
    "agg_ab_test" ->
      """WITH s AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             event_type = 'click' AS a,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE event_type IN ('click', 'view')),
         g AS (SELECT day,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN a THEN v ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN a THEN v * v ELSE 0 END) AS BIGINT) AS saa,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN a THEN 0 ELSE v END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN a THEN 0 ELSE v * v END) AS BIGINT) AS sbb
           FROM s GROUP BY day),
         f AS (SELECT day, na, nb,
             na::DOUBLE AS nad, nb::DOUBLE AS nbd,
             sa::DOUBLE / na AS ma, sb::DOUBLE / nb AS mb,
             (saa::DOUBLE - sa::DOUBLE * (sa::DOUBLE / na)) / (na::DOUBLE - 1)
               AS va,
             (sbb::DOUBLE - sb::DOUBLE * (sb::DOUBLE / nb)) / (nb::DOUBLE - 1)
               AS vb
           FROM g)
         SELECT day, na, nb,
           round(ma, 6) AS mean_a_cents,
           round(mb, 6) AS mean_b_cents,
           round((ma - mb) / sqrt(va / nad + vb / nbd), 6) AS t_stat,
           round((va / nad + vb / nbd) * (va / nad + vb / nbd) /
             ((va / nad) * (va / nad) / (nad - 1)
              + (vb / nbd) * (vb / nbd) / (nbd - 1)), 6) AS welch_df
         FROM f ORDER BY day""",
    // per-cell expected/contribution closed forms on the bounded cell
    // table; the total rounds coarser than any summation-order wobble
    "agg_chi2" ->
      """WITH cells AS (SELECT l_returnflag, l_linestatus, count(*) AS o
           FROM lineitem GROUP BY l_returnflag, l_linestatus),
         e AS (SELECT l_returnflag, l_linestatus, o,
             sum(o) OVER (PARTITION BY l_returnflag) AS row_t,
             sum(o) OVER (PARTITION BY l_linestatus) AS col_t,
             sum(o) OVER () AS n
           FROM cells),
         c AS (SELECT l_returnflag, l_linestatus, CAST(o AS BIGINT) AS o,
             (row_t * col_t)::DOUBLE / n::DOUBLE AS ex,
             (o::DOUBLE - (row_t * col_t)::DOUBLE / n::DOUBLE)
               * (o::DOUBLE - (row_t * col_t)::DOUBLE / n::DOUBLE)
               / ((row_t * col_t)::DOUBLE / n::DOUBLE) AS contrib
           FROM e)
         SELECT l_returnflag, l_linestatus, o,
           round(ex, 6) AS expected,
           round(contrib, 6) AS contrib,
           round(sum(contrib) OVER (), 4) AS chi2_total
         FROM c ORDER BY l_returnflag, l_linestatus""",
    // same sufficient-statistics discipline as agg_regression: exact
    // integer (w, w·x, w·x²) sums, double boundary after aggregation
    "agg_weighted_stats" ->
      """WITH s AS (SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS w,
             CAST(round(l_extendedprice) AS BIGINT) AS x
           FROM lineitem),
         a AS (SELECT l_returnflag,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w) AS DOUBLE) AS swd,
             CAST(sum(w * x) AS DOUBLE) AS swxd,
             CAST(sum(w * x * x) AS DOUBLE) AS swxxd
           FROM s GROUP BY l_returnflag)
         SELECT l_returnflag, sw,
           round(swxd / swd, 6) AS wmean,
           round(swxxd / swd - (swxd / swd) * (swxd / swd), 6) AS wvar,
           round(sqrt(swxxd / swd - (swxd / swd) * (swxd / swd)), 6) AS wstd
         FROM a ORDER BY l_returnflag""",
    // sufficient-statistics OLS: exact integer sums cast to DOUBLE at
    // the same boundary, then identical fixed-order closed forms
    "agg_regression" ->
      """WITH s AS (SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice) AS BIGINT) AS y
           FROM lineitem),
         a AS (SELECT l_returnflag, count(*) AS n,
             CAST(count(*) AS DOUBLE) AS nd,
             CAST(sum(x) AS DOUBLE) AS sxd, CAST(sum(y) AS DOUBLE) AS syd,
             CAST(sum(x * y) AS DOUBLE) AS sxyd,
             CAST(sum(x * x) AS DOUBLE) AS sxxd,
             CAST(sum(y * y) AS DOUBLE) AS syyd
           FROM s GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) AS slope,
           round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
                 / nd, 6) AS intercept,
           round(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
                 ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) AS r2
         FROM a ORDER BY l_returnflag""",
    // population formulas (Spark's skewness/kurtosis), two-pass from the mean
    "agg_skew_kurt" ->
      """WITH m AS (SELECT l_returnflag, avg(l_quantity) AS mu
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, count(*) AS n,
           round(avg(pow(l_quantity - mu, 3))
                 / pow(avg(pow(l_quantity - mu, 2)), 1.5), 6) AS skew,
           round(avg(pow(l_quantity - mu, 4))
                 / pow(avg(pow(l_quantity - mu, 2)), 2) - 3, 6) AS kurt
         FROM lineitem l JOIN m USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
    // quantile_cont shares percentile's (n-1)*p interpolation definition
    "agg_quantiles" ->
      """SELECT l_returnflag, count(*) AS n,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // product() is double-typed but exact here (<= 9^17 < 2^53); floor
    // before the BIGINT cast matches the Spark side's explicit rounding
    // direction (Spark cast truncates, DuckDB CAST rounds half-even)
    "agg_product" ->
      """SELECT l_orderkey, count(*) AS n_lines,
           CAST(round(product(CAST(floor(l_quantity) AS BIGINT) % 9 + 1))
             AS BIGINT) AS qty_product
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_corr" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
         round(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar,
         round(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar_pop,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS mode_n
                    FROM lineitem GROUP BY l_returnflag, l_quantity),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY l_returnflag ORDER BY mode_n DESC, l_quantity) AS rn
               FROM c)
         SELECT l_returnflag, l_quantity AS mode_qty, mode_n
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",
    "agg_median" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
         round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty,
         round(quantile_cont(l_quantity, 0.75), 4) AS q3_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the agg_approx_distinct_checked contract applied to GK percentile
    // sketches: exact percentiles exported, the sketch's values reduced
    // to bracket verdicts the oracle predicts true (bounds derived from
    // the sketch's configured accuracy, so they transfer across scale)
    "agg_percentile_approx" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
         round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty,
         round(quantile_cont(l_quantity, 0.75), 4) AS q3_qty,
         round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
         count(*) AS n,
         true AS p50_ok, true AS p95_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "source_api_paginated" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical on purpose: an outage ridden out through the breaker
    // (short-circuits, half-open probes, deferred pages) must be
    // invisible in the data — no dropped or duplicated page
    "source_api_circuit_breaker" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical to source_api_paginated on purpose: a V2 scan or a retried
    // transient failure must be invisible in the data (no dropped or
    // duplicated page either way)
    "source_api_v2" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // same shape again: env/conf-driven pagination must also be invisible
    "source_env_config" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    "source_api_retry" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // same shape once more: authentication must be invisible in the data
    // (the token gates ACCESS, it never alters content)
    "source_api_auth" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // and once more for the 429/Retry-After endpoint: server-side
    // throttling must be invisible in the data (pages delayed, never
    // dropped or duplicated)
    "source_api_ratelimit" ->
      """SELECT event_type, count(*) AS n,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    "scan_json_corrupt" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           false AS quarantined, CAST(NULL AS VARCHAR) AS raw
         FROM nation WHERE n_nationkey % 5 <> 0
         UNION ALL
         SELECT NULL, NULL, NULL, true,
           '<html>503 Service Unavailable ' || CAST(n_nationkey AS VARCHAR)
         FROM nation WHERE n_nationkey % 5 = 0
         ORDER BY quarantined, n_nationkey NULLS FIRST, raw NULLS FIRST""",
    "scan_csv_malformed" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey,
           false AS quarantined, CAST(NULL AS VARCHAR) AS raw
         FROM nation WHERE n_nationkey % 5 <> 0
         UNION ALL
         SELECT NULL, NULL, NULL, true,
           'garbage line with no commas key=' || CAST(n_nationkey AS VARCHAR)
         FROM nation WHERE n_nationkey % 5 = 0
         ORDER BY quarantined, n_nationkey NULLS FIRST, raw NULLS FIRST""",
    // provenance is a pure function of the key (parity split), so the
    // hidden _metadata.file_name folds to a predictable label
    "scan_file_metadata" ->
      """SELECT 'load-' || CAST(event_id % 2 AS VARCHAR) AS load_file,
           count(*) AS n, count(DISTINCT user_id) AS n_users,
           max(event_id) AS max_id
         FROM events GROUP BY 1 ORDER BY load_file""",
    // two appends of the same batch: every selected key carries exactly
    // two loads, both stamped, last load_id 2, ingested total = 2x price.
    // ingested_at itself stays data-invisible (wall clock), the
    // scan_observed pattern; its NON-NULLness is what n_stamped verifies
    "sink_raw_append" ->
      """SELECT o_orderkey, CAST(2 AS BIGINT) AS n_loads,
           CAST(2 AS BIGINT) AS n_stamped, 2 AS last_load,
           round(o_totalprice * 2, 2) AS total_ingested
         FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""",
    "sink_upsert" ->
      """WITH l1 AS (SELECT o_orderkey, o_totalprice, 1 AS load_id
                     FROM orders WHERE o_orderkey % 2 = 0),
            l2 AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
                          2 AS load_id
                     FROM orders WHERE o_orderkey % 3 = 0),
            u AS (SELECT *, row_number() OVER
                    (PARTITION BY o_orderkey ORDER BY load_id DESC) AS rn
                  FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2))
         SELECT o_orderkey, o_totalprice, load_id FROM u WHERE rn = 1
         ORDER BY o_orderkey""",
    // latest-op-wins per key; a key whose latest op is DELETE leaves the
    // materialized state entirely
    "sink_cdc_apply" ->
      """WITH log AS (SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
           FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
               FROM log)
         SELECT user_id, round(value, 6) AS value, epoch_us(ts) AS ts_us
         FROM r WHERE rn = 1 AND op <> 'D'
         ORDER BY user_id""",
    // MERGE three-way split: target-only rows survive as-is, matched rows
    // update (or DELETE behind the price guard), source-only rows insert
    "sql_merge_into" ->
      """WITH t AS (SELECT o_orderkey, round(o_totalprice, 2) AS price,
                      1 AS load_id
                    FROM orders WHERE o_orderkey % 2 = 0),
            s AS (SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS price,
                      2 AS load_id
                    FROM orders WHERE o_orderkey % 3 = 0)
         SELECT t.o_orderkey, t.price, t.load_id FROM t
           LEFT JOIN s ON t.o_orderkey = s.o_orderkey
           WHERE s.o_orderkey IS NULL
         UNION ALL
         SELECT t.o_orderkey, s.price, s.load_id FROM t
           JOIN s ON t.o_orderkey = s.o_orderkey
           WHERE s.price <= 400000.0
         UNION ALL
         SELECT s.o_orderkey, s.price, s.load_id FROM s
           LEFT JOIN t ON s.o_orderkey = t.o_orderkey
           WHERE t.o_orderkey IS NULL
         ORDER BY o_orderkey""",
    // the statement operates on the even-keyed seed (load 1); the oracle
    // replays the SET behind the same predicate
    "sql_update" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0
                THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS price,
           CASE WHEN o_orderkey % 10 = 0 THEN 9 ELSE 1 END AS load_id
         FROM orders WHERE o_orderkey % 2 = 0
         ORDER BY o_orderkey""",
    // version 1 = the seed load, current = after the additive update:
    // the versioned self-join reconstructs both sides from orders
    // the feed is the algebraic diff of the two snapshots
    "sql_changefeed" ->
      """WITH v1 AS (SELECT o_orderkey, round(o_totalprice, 2) AS price
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT * FROM (
           SELECT o_orderkey, 'U' AS op, price AS price_before,
             price + 500.0 AS price_after
           FROM v1 WHERE o_orderkey % 10 = 4
           UNION ALL
           SELECT o_orderkey, 'D', price, CAST(NULL AS DOUBLE)
           FROM v1 WHERE o_orderkey % 10 = 8
           UNION ALL
           SELECT 1, 'I', CAST(NULL AS DOUBLE), 42.5)
         ORDER BY o_orderkey""",
    "sql_time_travel" ->
      """SELECT o_orderkey,
           round(o_totalprice, 2) AS price_v1,
           CASE WHEN o_orderkey % 10 = 0
                THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS price_cur,
           o_orderkey % 10 = 0 AS changed
         FROM orders WHERE o_orderkey % 2 = 0
         ORDER BY o_orderkey""",
    // the bucket layout is data-invisible: the zero-shuffle join must
    // return exactly what the plain join returns
    "join_storage_partitioned" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // full refresh: the overwrite replaces the even-keyed seed entirely
    // with the %3 load — only the new load remains
    "sql_insert_overwrite" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price, 2 AS load_id
         FROM orders WHERE o_orderkey % 3 = 0
         ORDER BY o_orderkey""",
    // variables/parameters resolve to literals at analysis time — the
    // oracle IS the literal form of each query
    "q_sql_variables" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
         FROM orders
         WHERE o_totalprice > 300000.0 AND o_orderstatus = 'F'
         ORDER BY o_orderkey""",
    "q_parameterized" ->
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // DuckDB spells the star modifier EXCLUDE; same resolved projection
    "q_select_except" ->
      """SELECT * EXCLUDE (c_name, c_acctbal)
         FROM customer WHERE c_custkey % 10 = 3 ORDER BY ALL""",
    // FILTER folds into each aggregate's update on both engines
    "q_agg_filter" ->
      """SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           round(sum(l_quantity) FILTER (WHERE l_tax < 0.04), 2) AS qty_lowtax
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the cache layer is data-invisible: oracle = the raw-table aggregate
    "sql_cache_table" ->
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // IDENTIFIER binding resolves at analysis — plan equals the literal form
    "q_identifier" ->
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // pipe syntax is parse-level: the oracle is the nested spelling
    "q_pipe_syntax" ->
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the WHILE loop's closed form: 100000 * 1.2^5 = 248832
    "q_sql_scripting" ->
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
         FROM orders
         WHERE o_totalprice > 248832.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Luhn recomputed arithmetically: double every 2nd digit from the right
    "fn_luhn" ->
      """WITH t AS (SELECT o_orderkey,
             lpad(CAST(o_orderkey * 7919 AS VARCHAR), 16, '5') AS num
           FROM orders),
         d AS (SELECT o_orderkey, num,
             [CAST(num[i] AS INTEGER) FOR i IN range(1, length(num) + 1)] AS ds
           FROM t)
         SELECT o_orderkey, num,
           (list_sum([CASE WHEN (len(ds) - i) % 2 = 1
                 THEN CASE WHEN ds[i] * 2 > 9 THEN ds[i] * 2 - 9
                      ELSE ds[i] * 2 END
                 ELSE ds[i] END
               FOR i IN range(1, len(ds) + 1)]) % 10 = 0) AS luhn_ok
         FROM d ORDER BY o_orderkey""",
    // xpath extraction is a round trip over typed columns
    "fn_xpath" ->
      """SELECT o_orderkey, o_orderstatus AS status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(o_orderkey AS VARCHAR) AS id_attr,
           CAST(3 AS INTEGER) AS n_children
         FROM orders ORDER BY o_orderkey""",
    // the custom operator's retained SET is unique under the total order
    "topk_per_group_native" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
           FROM orders)
         SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price
         FROM r WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey""",
    // deg-capped co-purchase projection, one pair aggregate, top-20 cut
    "graph_jaccard" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         sc AS (SELECT cust FROM e GROUP BY cust HAVING count(*) <= 256),
         kept AS (SELECT e.cust, e.supp FROM e JOIN sc USING (cust)),
         deg AS (SELECT supp, count(*) AS deg FROM kept GROUP BY supp),
         co AS (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
           FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
           GROUP BY 1, 2)
         SELECT co.s1, co.s2, co.shared,
           round(CAST(co.shared AS DOUBLE) /
             (da.deg + db.deg - co.shared), 6) AS jac
         FROM co JOIN deg da ON da.supp = co.s1
                 JOIN deg db ON db.supp = co.s2
         ORDER BY jac DESC, co.s1, co.s2 LIMIT 20""",
    "graph_degree_dist" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         d AS (SELECT cust, count(*) AS deg FROM e GROUP BY 1)
         SELECT deg, count(*) AS n_nodes FROM d GROUP BY 1 ORDER BY deg""",
    "pipeline_preference_pairs" ->
      """WITH t AS (SELECT source, lang, doc_id,
             round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS ttr
           FROM (SELECT source, lang, doc_id,
                   list_filter(str_split(text, ' '), x -> x <> '') AS toks
                 FROM documents)
           WHERE len(toks) > 0),
         r AS (SELECT source, lang, doc_id, ttr,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY ttr DESC, doc_id DESC) AS rmax,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY ttr ASC, doc_id ASC) AS rmin
           FROM t)
         SELECT source, lang,
           max(CASE WHEN rmax = 1 THEN doc_id END) AS chosen_id,
           max(CASE WHEN rmin = 1 THEN doc_id END) AS rejected_id,
           round(max(ttr) - min(ttr), 6) AS margin,
           count(*) AS n_candidates
         FROM r GROUP BY source, lang
         HAVING max(CASE WHEN rmax = 1 THEN doc_id END)
             <> max(CASE WHEN rmin = 1 THEN doc_id END)
         ORDER BY source, lang""",
    // integer weight sum is order-invariant; sqrt/floor are bit-exact IEEE
    "pipeline_epoch_plan" ->
      """WITH t AS (SELECT source,
             CAST(sum(len(list_filter(str_split(text, ' '), x -> x <> '')))
               AS BIGINT) AS n_toks
           FROM documents GROUP BY source),
         w AS (SELECT source, n_toks,
             CAST(floor(sqrt(CAST(n_toks AS DOUBLE) * 1000000.0)) AS BIGINT) AS w
           FROM t),
         s AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w FROM w)
         SELECT source, n_toks, w,
           least(4.0, round(60000.0 * CAST(w AS DOUBLE) /
             (CAST(sum_w AS DOUBLE) * CAST(n_toks AS DOUBLE)), 4)) AS epochs,
           CAST(round(least(4.0, round(60000.0 * CAST(w AS DOUBLE) /
             (CAST(sum_w AS DOUBLE) * CAST(n_toks AS DOUBLE)), 4))
             * CAST(n_toks AS DOUBLE)) AS BIGINT) AS planned_toks
         FROM w, s ORDER BY source""",
    // byte-exact template proof via md5 of the rendered example
    "pipeline_sft_format" ->
      """WITH t AS (SELECT doc_id,
             list_filter(str_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         el AS (SELECT doc_id,
             array_to_string(toks[1:12], ' ') AS prompt,
             array_to_string(toks[13:32], ' ') AS response,
             len(toks) - 12 AS n_rest
           FROM t WHERE len(toks) > 12)
         SELECT doc_id,
           CAST(least(n_rest, 20) AS INTEGER) AS n_resp_toks,
           CAST(length(prompt) + 27 AS INTEGER) AS loss_start,
           CAST(length(response) AS INTEGER) AS loss_len,
           md5('### Prompt:' || chr(10) || prompt || chr(10) ||
               '### Response:' || chr(10) || response) AS rendered_md5
         FROM el ORDER BY doc_id""",
    "pipeline_dataset_card" ->
      """WITH t AS (SELECT source, lang, n_chars,
             len(list_filter(str_split(text, ' '), x -> x <> ''))::BIGINT
               AS n_toks
           FROM documents)
         SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           round(avg(n_toks), 4) AS avg_toks,
           round(median(n_chars), 1) AS median_chars,
           round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 4)
             AS short_frac
         FROM t GROUP BY source, lang ORDER BY source, lang""",
    // OFFSET pages are deterministic under the total key order
    "q_offset" ->
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
         FROM orders
         ORDER BY o_orderkey
         LIMIT 50 OFFSET 100""",
    // floor-to-version semantics: 00:01:30 lands between commits 1 and
    // 2, so the versioned side is the seed load — same oracle as the
    // VERSION AS OF entry by construction
    "sql_time_travel_ts" ->
      """SELECT o_orderkey,
           round(o_totalprice, 2) AS price_v1,
           CASE WHEN o_orderkey % 10 = 0
                THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS price_cur,
           o_orderkey % 10 = 0 AS changed
         FROM orders WHERE o_orderkey % 2 = 0
         ORDER BY o_orderkey""",
    // CTAS: schema and contents both come from the SELECT
    "sql_ctas" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
         o_orderstatus AS status
         FROM orders WHERE o_orderkey % 4 = 0
         ORDER BY o_orderkey""",
    // schema evolution: the pre-ALTER seed (load 1) reads back with the
    // new trailing column NULL-backfilled; the post-ALTER load carries it
    "sql_alter_evolve" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price, 1 AS load_id,
           CAST(NULL AS VARCHAR) AS priority
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, round(o_totalprice, 2), 2, o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 1
         ORDER BY o_orderkey""",
    // predicate delete: only the surviving rows remain
    "sql_delete" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price, 1 AS load_id
         FROM orders
         WHERE o_orderkey % 2 = 0 AND round(o_totalprice, 2) <= 400000.0
         ORDER BY o_orderkey""",
    // the document export must reproduce every BSON-ish document
    // byte-for-byte: struct_pack preserves field order, to_json emits the
    // same compact form Spark's to_json does, amounts are integer cents
    // (float formatting is engine-specific, integers are not)
    "sink_doc_shape" ->
      """SELECT 'order-' || CAST(o_orderkey AS VARCHAR) AS _id,
         CAST(to_json(struct_pack(
           key := o_orderkey,
           status := o_orderstatus,
           detail := struct_pack(
             amount_cents := CAST(round(o_totalprice * 100) AS BIGINT),
             placed := strftime(o_orderdate, '%Y-%m-%d')),
           customer_id := o_custkey)) AS VARCHAR) AS doc_json,
         TIMESTAMP '2024-06-01 00:00:00' AS ingested_at
         FROM orders ORDER BY _id""",
    "sink_scd2" ->
      """WITH l1 AS (SELECT o_orderkey, o_totalprice, 1 AS valid_from
                     FROM orders WHERE o_orderkey % 2 = 0),
            l2 AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
                          2 AS valid_from
                     FROM orders WHERE o_orderkey % 3 = 0),
            h AS (SELECT *, lead(valid_from) OVER
                    (PARTITION BY o_orderkey ORDER BY valid_from) AS valid_to
                  FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2))
         SELECT o_orderkey, round(o_totalprice, 2) AS price,
           valid_from, valid_to, valid_to IS NULL AS is_current
         FROM h ORDER BY o_orderkey, valid_from""",
    // compaction must be data-invisible; integer-cents sum keeps the
    // audit associative (double sums depend on partition order)
    // JSONL is the interchange layer — the census must equal the source
    "sink_jsonl" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_meta,
           CAST(sum(length(text)) AS BIGINT) AS chars_text,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY source ORDER BY source""",
    // the manifest names exactly the 4 committed shards; the planted
    // orphan is invisible, so the census equals the raw source
    // vacuum removed exactly the 2 planted orphans; committed data intact
    "sink_vacuum" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           2 AS n_removed,
           TRUE AS vacuum_clean
         FROM orders""",
    // bloom acceleration is data-invisible — oracle is the plain filter
    // regionkey ints survive the text round trip; pipe-in-value proves
    // the delimiter is the PAIR, not the single char
    // the skipped garbage file contributes nothing — census = good shards
    "scan_corrupt_files_skip" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
         FROM orders""",
    "scan_csv_multidelim" ->
      """SELECT n_nationkey, 'a|' || n_name AS piped, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "scan_parquet_bloom" ->
      """SELECT count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
         FROM orders WHERE o_custkey = 7""",
    "sink_manifest_commit" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           4 AS n_manifest_files,
           TRUE AS orphan_invisible
         FROM orders""",
    "sink_compact" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
         true AS compacted
         FROM orders""",
    "scan_merge_schema" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
         o_orderkey % 2 = 0 AS pre_evolution
         FROM orders ORDER BY o_orderkey""",
    // idempotent incremental ingest: every key lands exactly once with
    // its first-load price
    "sink_incremental" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
         CAST(1 AS BIGINT) AS n_copies
         FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
         ORDER BY o_orderkey""",
    // each metric recomputed independently; ok encodes the gate rule
    "scan_constraints" ->
      """SELECT * FROM (
         SELECT 'row_count' AS check_name, count(*) AS observed,
                count(*) > 0 AS ok FROM lineitem
         UNION ALL
         SELECT 'null_orderkey', count(*) FILTER (l_orderkey IS NULL),
                count(*) FILTER (l_orderkey IS NULL) = 0 FROM lineitem
         UNION ALL
         SELECT 'quantity_range',
                count(*) FILTER (l_quantity < 1 OR l_quantity > 50),
                count(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0
         FROM lineitem
         UNION ALL
         SELECT 'price_positive', count(*) FILTER (l_extendedprice <= 0),
                count(*) FILTER (l_extendedprice <= 0) = 0 FROM lineitem
         UNION ALL
         SELECT 'key_duplicates',
                count(*) - count(DISTINCT (l_orderkey, l_linenumber)),
                count(*) - count(DISTINCT (l_orderkey, l_linenumber)) = 0
         FROM lineitem
         UNION ALL
         SELECT 'fk_orphans', count(*), count(*) = 0 FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         ) ORDER BY check_name""",
    // oracle = the full recompute the state merge must be
    // indistinguishable from (integer-cents sums: order-invariant)
    "sink_agg_refresh" ->
      """SELECT event_type, count(*) AS n,
         round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value,
         round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*), 6)
           AS avg_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // §2.9 streaming — oracles are the BATCH equivalents over the same
    // events table; matching them proves stream/batch equivalence.
    "stream_source" ->
      """SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY event_type""",
    "stream_tumbling" ->
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS win_start_s,
                event_type, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_sliding" ->
      """SELECT ws AS win_start_s, count(*) AS n
         FROM (SELECT unnest([(epoch_us(ts) // 1000000 // 3600) * 3600,
                              (epoch_us(ts) // 1000000 // 3600) * 3600 - 3600]) AS ws
               FROM events)
         GROUP BY ws ORDER BY ws""",
    "stream_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS u FROM events),
         o AS (SELECT user_id, u,
                 CASE WHEN u - lag(u) OVER (PARTITION BY user_id ORDER BY u)
                        >= 1800 * 1000000
                      OR lag(u) OVER (PARTITION BY user_id ORDER BY u) IS NULL
                      THEN 1 ELSE 0 END AS new_s
               FROM e),
         g AS (SELECT user_id, u, sum(new_s) OVER
                 (PARTITION BY user_id ORDER BY u
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM o)
         SELECT user_id, min(u) // 1000000 AS session_start_s,
                count(*) AS n_events
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_s""",
    // append-mode + watermark over a single-batch source is
    // DETERMINISTIC: the final watermark is max(ts) - 1h (ms-floored),
    // and exactly the windows sealed by it (window_end <= watermark) are
    // emitted — the un-sealed tail windows are withheld, which is the
    // late-data contract this entry pins
    // MapState increments are pure addition — batching-independent;
    // oracle = the plain batch census
    "stream_type_counts" ->
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",
    // the associative-commutative top-5 merge makes the final ListState
    // batching-independent; oracle = batch top-5 + count per user
    "stream_recent_events" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         r AS (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us DESC, event_id DESC) AS rn
           FROM b),
         t AS (SELECT user_id,
             string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS recent_ids
           FROM r WHERE rn <= 5 GROUP BY user_id),
         n AS (SELECT user_id, count(*) AS n_seen FROM b GROUP BY user_id)
         SELECT user_id, n_seen, recent_ids
         FROM n JOIN t USING (user_id) ORDER BY user_id""",
    // gap-sealed sessions emit inline; each user's trailing session only
    // if its timer expiry clears the final watermark (max − 2 h)
    "stream_timer_sessions" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
               AS new_s
           FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         s AS (SELECT user_id, ts_us, sum(new_s) OVER (
             PARTITION BY user_id ORDER BY ts_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         sess AS (SELECT user_id, sid, min(ts_us) AS start_us,
             max(ts_us) AS end_us, CAST(count(*) AS BIGINT) AS n_events
           FROM s GROUP BY user_id, sid),
         mx AS (SELECT max(ts_us // 1000) AS max_ms FROM b),
         ranked AS (SELECT user_id, start_us, end_us, n_events,
             row_number() OVER (PARTITION BY user_id ORDER BY start_us DESC)
               AS rdesc
           FROM sess)
         SELECT user_id, start_us // 1000000 AS session_start_s, n_events
         FROM ranked CROSS JOIN mx
         WHERE rdesc > 1 OR end_us // 1000 + 1800000 <= max_ms - 7200000
         ORDER BY user_id, session_start_s""",
    "stream_watermark" ->
      """WITH w AS (SELECT (epoch_us(ts) // 1000000 // 3600) * 3600
                      AS win_start_s, event_type
                    FROM events),
            m AS (SELECT max(epoch_us(ts) // 1000) AS mx_ms FROM events)
         SELECT win_start_s, event_type, count(*) AS n
         FROM w
         WHERE (win_start_s + 3600) * 1000 <=
               (SELECT mx_ms FROM m) - 3600000
         GROUP BY win_start_s, event_type
         ORDER BY win_start_s, event_type""",
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n, count(*) AS n_ids FROM events
         GROUP BY event_type ORDER BY event_type""",
    // batch-equivalence replay of the streaming LSH state machine:
    // bucket members = first-64-by-id per (band, sig) (arrival order IS
    // id order by staging), pairs within a bucket at >= 20/32 matching
    // minhash slots — signature-only verification, the streaming-state
    // contract (state holds signatures, never shingle sets)
    "stream_dedup_near" ->
      s"""WITH ${nearDupBandCtes("documents")},
         bm AS (SELECT b.doc_id, b.band, b.sig, m.mh,
                row_number() OVER (PARTITION BY b.band, b.sig
                  ORDER BY b.doc_id) AS rn
              FROM b JOIN m USING (doc_id)),
         mem AS (SELECT * FROM bm WHERE rn <= 64),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                list_sum(list_transform(range(1, 33),
                  i -> CASE WHEN a.mh[i] = c.mh[i] THEN 1 ELSE 0 END)) AS n_match
              FROM mem a JOIN mem c
                ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id)
         SELECT doc_a, doc_b, CAST(max(n_match) AS INTEGER) AS n_match
         FROM p WHERE n_match >= 20
         GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",
    // the reconciliation pass: the streaming replay above joined back to
    // the exact shingle sets — every signature-evidence pair re-scored
    // with true Jaccard, flagged at the batch 0.6 operating point
    "stream_dedup_near_verified" ->
      s"""WITH ${nearDupBandCtes("documents")},
         bm AS (SELECT b.doc_id, b.band, b.sig, m.mh,
                row_number() OVER (PARTITION BY b.band, b.sig
                  ORDER BY b.doc_id) AS rn
              FROM b JOIN m USING (doc_id)),
         mem AS (SELECT * FROM bm WHERE rn <= 64),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                list_sum(list_transform(range(1, 33),
                  i -> CASE WHEN a.mh[i] = c.mh[i] THEN 1 ELSE 0 END)) AS n_match
              FROM mem a JOIN mem c
                ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
         sp AS (SELECT doc_a, doc_b, CAST(max(n_match) AS INTEGER) AS n_match
                FROM p WHERE n_match >= 20 GROUP BY doc_a, doc_b),
         v AS (SELECT sp.doc_a, sp.doc_b, sp.n_match,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                   (len(sa.sh) + len(sb.sh)
                    - len(list_intersect(sa.sh, sb.sh))), 6) AS jac
               FROM sp JOIN s sa ON sa.doc_id = sp.doc_a
                       JOIN s sb ON sb.doc_id = sp.doc_b)
         SELECT doc_a, doc_b, n_match, jac,
           CAST(CASE WHEN jac >= 0.6 THEN 1 ELSE 0 END AS INTEGER) AS verified
         FROM v ORDER BY doc_a, doc_b""",
    "stream_stateful" ->
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 6) AS max_value,
         round(min(value), 6) AS min_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "stream_stateful_v2" ->
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 6) AS max_value,
         round(min(value), 6) AS min_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "stream_sink" ->
      """SELECT event_type, count(*) AS n, count(*) AS n_stamped FROM events
         GROUP BY event_type ORDER BY event_type""",
    // stream-static join vs the equivalent batch join (the dim covers
    // every user, so the join is lossless)
    "stream_join" ->
      """SELECT user_id % 7 AS cohort, count(*) AS n
         FROM events GROUP BY user_id % 7 ORDER BY cohort""",
    // stream-stream interval join vs the equivalent batch join; epoch_us
    // floors DuckDB's native nanos to Spark's microsecond truncation
    "stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
          AND epoch_us(c.ts) <= epoch_us(p.ts)
         ORDER BY p.user_id, purchase_id, click_id""",
    // sealed region (p_ts <= max(ts) - 2h): append output == batch left join
    "stream_outer_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
           FROM events WHERE event_type = 'click'),
         seal AS (SELECT max(epoch_us(ts)) - 7200000000 AS seal_us FROM events)
         SELECT p.user_id, p.purchase_id, c.click_id, p.p_us
         FROM p LEFT JOIN c
           ON p.user_id = c.user_id
          AND c.c_us >= p.p_us - 1800000000 AND c.c_us <= p.p_us,
         seal
         WHERE p.p_us <= seal.seal_us
         ORDER BY p.user_id, p.purchase_id, c.click_id NULLS FIRST, p.p_us""",
    // throttling changes batching, never data
    "stream_throttled" ->
      """SELECT event_type, count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    // checkpoint recovery: resumed query neither re-emits the committed
    // half (n_ids = n would break) nor skips the new half (n would break)
    // no watermark => nothing evicts: the final state IS the full
    // aggregate, so the state-store read must equal the batch groupBy
    "stream_state_inspect" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(user_id) AS BIGINT) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_recovery" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT event_id) AS n_ids,
         min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type ORDER BY event_type""",
    // latest-wins merge over a total order is batch-boundary-independent:
    // the oracle computes the same per-user argmax in one pass
    "stream_upsert" ->
      """WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
           event_type AS last_type
         FROM r WHERE rn = 1 ORDER BY user_id""",
    // per-micro-batch MERGE with tombstone retention is associative over
    // the (ts, event_id) total order, so the final state equals the
    // whole-log CDC apply — the same oracle as sink_cdc_apply
    "stream_merge" ->
      """WITH log AS (SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
           FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
               FROM log)
         SELECT user_id, round(value, 6) AS value, epoch_us(ts) AS ts_us
         FROM r WHERE rn = 1 AND op <> 'D'
         ORDER BY user_id""",
    // DSIR importance weights: same md5 bucket coin as hashing_trick,
    // per-token ln ratios micro-rounded BEFORE the per-doc sum so the
    // integer doc score is order-invariant on both engines
    "pipeline_dsir" ->
      s"""WITH $dsirScoreCtes
         SELECT doc_id, n_feats, logw_u,
           CAST(CASE WHEN logw_u > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS selected
         FROM sc ORDER BY doc_id""",
    // Gumbel-top-k over the SAME scored chain (shared CTEs — selection
    // and resampling cannot drift): key = logw + round(−ln(−ln u)·1e6)
    "pipeline_dsir_resample" ->
      s"""WITH $dsirScoreCtes,
         g AS (SELECT doc_id, n_feats, logw_u,
             CAST(round(-ln(-ln(
                 (('0x' || substring(md5('dr|' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT + 0.5) / 4294967296.0)) * 1e6)
               AS BIGINT) AS gumbel_u
           FROM sc),
         r AS (SELECT doc_id, n_feats, logw_u, gumbel_u,
                 logw_u + gumbel_u AS key_u FROM g),
         k AS (SELECT CAST(row_number() OVER (ORDER BY key_u DESC, doc_id)
                 AS INTEGER) AS rnk,
               doc_id, n_feats, logw_u, gumbel_u, key_u
               FROM r ORDER BY key_u DESC, doc_id LIMIT 64)
         SELECT rnk, doc_id, n_feats, logw_u, gumbel_u, key_u
         FROM k ORDER BY rnk""",
    // training replayed exactly: algebraic sigmoid (no exp — identical
    // IEEE arithmetic on both engines) + integer-microunit gradient
    // quantization make each unrolled round bit-reproducible
    "pipeline_quality_classifier" ->
      s"""WITH $classifierScoredCtes
         SELECT doc_id, score, pred_en, is_en FROM scored ORDER BY doc_id""",
    // reliability bins + ECE over the SAME scored chain (shared CTEs —
    // the audit cannot drift from the classifier it audits)
    "pipeline_classifier_calibration" ->
      s"""WITH $classifierScoredCtes,
         b AS (SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9)
                 AS INTEGER) AS bin,
               CAST(round(score * 1e6) AS BIGINT) AS score_u,
               CAST(CASE WHEN is_en THEN 1 ELSE 0 END AS BIGINT) AS pos
             FROM scored),
         bins AS (SELECT bin, count(*) AS n,
               CAST(sum(score_u) // count(*) AS BIGINT) AS mean_score_u,
               CAST((sum(pos) * 1000000) // count(*) AS BIGINT) AS pos_rate_u
             FROM b GROUP BY bin),
         g AS (SELECT bin, n, mean_score_u, pos_rate_u,
                 CAST(abs(mean_score_u - pos_rate_u) AS BIGINT) AS gap_u
               FROM bins)
         SELECT bin, n, mean_score_u, pos_rate_u, gap_u FROM g
         UNION ALL
         SELECT -1, CAST(sum(n) AS BIGINT), NULL, NULL,
           CAST(sum(n * gap_u) // sum(n) AS BIGINT) FROM g
         ORDER BY bin""",
    // per-vector cell assignment depends only on the frozen codebook, so
    // the streamed, partitioned store equals the one-pass batch
    // assignment (same a/asn CTEs as the sim_ivf oracle)
    "stream_ann_ingest" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1)
         SELECT cell, count(*) AS n, min(vec_id) AS min_vec, max(vec_id) AS max_vec
         FROM asn GROUP BY cell ORDER BY cell""",
    // each query's answer depends only on itself, the frozen codebook,
    // and the static store, so the streamed search equals the one-pass
    // batch search: assignment + per-query probe + pruned exact top-10
    "stream_ann_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
         p AS (SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_dot_product(cv, qv) /
                   (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                   DESC, cid) AS rn
               FROM q CROSS JOIN c),
         pr AS (SELECT qid, qv, cid AS cell FROM p WHERE rn <= 4),
         cand AS (SELECT pr.qid, asn.vec_id,
                 round(list_dot_product(e.v, pr.qv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pr.qv, pr.qv))), 6)
                   AS cos
               FROM asn JOIN pr USING (cell)
               JOIN e ON e.vec_id = asn.vec_id),
         top AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rnk FROM cand)
         SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cos
         FROM top WHERE rnk <= 10 ORDER BY query_id, rank""",
    // §2.10 UDF / UDAF / UDTF
    "udf_scalar" ->
      """SELECT doc_id, source || '/' || lang AS record_key,
         CAST(list_sum([i * unicode((source || '/' || lang)[i])
                        for i in range(1, length(source || '/' || lang) + 1)])
              % 9973 AS BIGINT) AS key_checksum
         FROM documents ORDER BY doc_id""",
    "udaf_aggregator" ->
      """SELECT o_orderstatus,
         round(exp(avg(ln(o_totalprice))), 4) AS geo_price,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "udtf_generator" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         b AS (SELECT doc_id,
                 unnest([{'pos': i, 'bigram': toks[i] || ' ' || toks[i+1]}
                         for i in range(1, len(toks))]) AS bg
               FROM t)
         SELECT doc_id, CAST(bg.pos AS INT) AS pos, bg.bigram AS bigram
         FROM b ORDER BY doc_id, pos""",
    // [EXT] training-pipeline text analysis
    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang, list_distinct(str_split(text, ' ')) AS vocab
                    FROM documents),
         m AS (SELECT doc_id, lang AS lang_meta, list_max([
           {'s': len(list_intersect(vocab, ['der','die','und','das','ist','nicht'])), 'l': 'de'},
           {'s': len(list_intersect(vocab, ['the','and','of','to','in','is'])), 'l': 'en'},
           {'s': len(list_intersect(vocab, ['el','la','de','que','y','los'])), 'l': 'es'},
           {'s': len(list_intersect(vocab, ['le','la','les','et','des','une'])), 'l': 'fr'},
           {'s': len(list_intersect(vocab, ['de','shi','bu','wo','le','ren'])), 'l': 'zh'}]) AS best
               FROM t)
         SELECT doc_id, lang_meta, CAST(best.s AS INTEGER) AS best_score, best.l AS lang_pred
         FROM m ORDER BY doc_id""",
    // first-occurrence 3-gram novelty: inclusive list slice tk[i:i+2]
    // is exactly Spark's slice(tk, i, 3); grams travel as the shared
    // 60-bit md5 digest; ratios close in integers
    "text_novelty" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(
               [('0x' || substring(md5(array_to_string(tk[i:i+2], ' ')),
                   1, 15))::BIGINT
                for i in range(1, len(tk) - 1)])) AS gram
           FROM t WHERE len(tk) >= 3),
         f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
         SELECT g.doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel,
           CAST((sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS novelty_ppm
         FROM g JOIN f USING (gram)
         GROUP BY g.doc_id ORDER BY doc_id""",
    // the langid scoring CTEs aggregated to the (meta × predicted)
    // confusion matrix — the audit shares the classifier's expression
    "text_langid_confusion" ->
      """WITH t AS (SELECT doc_id, lang, list_distinct(str_split(text, ' ')) AS vocab
                    FROM documents),
         m AS (SELECT doc_id, lang AS lang_meta, list_max([
           {'s': len(list_intersect(vocab, ['der','die','und','das','ist','nicht'])), 'l': 'de'},
           {'s': len(list_intersect(vocab, ['the','and','of','to','in','is'])), 'l': 'en'},
           {'s': len(list_intersect(vocab, ['el','la','de','que','y','los'])), 'l': 'es'},
           {'s': len(list_intersect(vocab, ['le','la','les','et','des','une'])), 'l': 'fr'},
           {'s': len(list_intersect(vocab, ['de','shi','bu','wo','le','ren'])), 'l': 'zh'}]) AS best
               FROM t)
         SELECT lang_meta, best.l AS lang_pred, count(*)::BIGINT AS n,
           CAST(CASE WHEN lang_meta = best.l THEN 1 ELSE 0 END AS INTEGER)
             AS is_correct
         FROM m GROUP BY 1, 2, 4 ORDER BY 1, 2""",
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents),
         r AS (SELECT doc_id,
                 length(text) AS n_chars_txt,
                 len(toks) AS n_toks,
                 length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text) AS ar,
                 len(list_intersect(list_distinct(toks),
                     ['the','and','of','to','in','a','is','it']))::DOUBLE / 8.0 AS sr,
                 least(len(toks)::DOUBLE / 50.0, 1.0) AS ls
               FROM t)
         SELECT doc_id, CAST(n_chars_txt AS INTEGER) AS n_chars_txt,
           CAST(n_toks AS INTEGER) AS n_toks,
           round(ar, 6) AS alpha_ratio,
           round(sr, 6) AS stop_ratio,
           round(0.5 * ls + 0.3 * ar + 0.2 * sr, 6) AS quality
         FROM r ORDER BY doc_id""",
    "text_tokens_regex" ->
      """SELECT token, count(*) AS tf
         FROM (SELECT unnest(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS token FROM documents)
         GROUP BY token ORDER BY token""",
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
                      FROM documents),
         t AS (SELECT doc_id, token, count(*) AS tf FROM toks
               WHERE token <> '' GROUP BY doc_id, token),
         d AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks
               WHERE token <> '' GROUP BY token),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         SELECT t.doc_id, t.token, t.tf, d.df,
           round(t.tf * ln((n.n_docs + 1)::DOUBLE / (d.df + 1)), 6) AS tfidf
         FROM t JOIN d USING (token) CROSS JOIN n
         ORDER BY doc_id, token""",
    "text_pii_mask" ->
      """WITH d AS (SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(dirty,
             '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS masked,
           CAST(len(regexp_extract_all(dirty, '[a-z0-9]+@[a-z]+\.[a-z]+'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(dirty, '\+1-555-[0-9]{4}'))
                AS INTEGER) AS n_phones
         FROM d ORDER BY doc_id""",
    "dedup_normalized" ->
      """WITH v AS (SELECT doc_id + 100000 AS doc_id,
             '  ' || upper(substring(text, 1, 1)) || substring(text, 2) || '  ' AS text
           FROM documents WHERE doc_id % 4 = 0),
         c AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM v),
         n AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash
           FROM c)
         SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM n GROUP BY norm_hash HAVING count(*) > 1 ORDER BY keep_id""",
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id,
                 list_transform(str_split(text, ' '),
                   tk -> ('0x' || substring(md5(tk), 1, 15))::BIGINT % 1000000007) AS hs
               FROM documents)
         SELECT doc_id,
           CAST(list_reduce([0::BIGINT] || hs,
                (a, b) -> (a * 131 + b) % 1000000007) AS BIGINT) AS fingerprint,
           CAST(len(hs) AS INTEGER) AS n_toks
         FROM t ORDER BY doc_id""",
    // hints are result-invisible: the oracle is the plain join
    "q_sql_hints" ->
      """SELECT c_mktsegment, count(*) AS n,
         round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // same md5-derived 60-bit gram hash on both sides; docs shorter than
    // the gram width contribute nothing in either engine
    "text_decontaminate" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         g0 AS (SELECT doc_id, list_distinct([
                  ('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
                  FOR i IN range(1, len(toks) - 6)]) AS gs
                FROM t WHERE len(toks) >= 8),
         g AS (SELECT doc_id, unnest(gs) AS h FROM g0),
         bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 50 = 0)
         SELECT doc_id, count(DISTINCT h) AS n_hits
         FROM g WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_heavy_hitters_grouped" ->
      """WITH c AS (SELECT lang, token, count(*) AS tf FROM (
             SELECT lang, unnest(str_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY lang, token),
         r AS (SELECT lang, token, tf, row_number() OVER
             (PARTITION BY lang ORDER BY tf DESC, token) AS rn FROM c)
         SELECT lang, token, tf FROM r WHERE rn <= 5
         ORDER BY lang, tf DESC, token""",
    // support threshold compares count >= n_total*0.005 in double on both
    // sides — identical IEEE arithmetic, no boundary asymmetry
    "text_heavy_hitters" ->
      """WITH tk AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
         t AS (SELECT token FROM tk WHERE token <> ''),
         tot AS (SELECT count(*) AS n_total FROM t)
         SELECT token, count(*) AS n,
           round(count(*)::DOUBLE / n_total, 6) AS support
         FROM t, tot GROUP BY token, n_total
         HAVING count(*) >= n_total * 0.005
         ORDER BY n DESC, token""",
    // same 60-bit window-hash vocabulary as text_decontaminate; df counts
    // per-doc DISTINCT windows, and sub-n-token docs vanish on both sides
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         w0 AS (SELECT doc_id, list_distinct([
                  ('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
                  FOR i IN range(1, len(toks) - 6)]) AS ws
                FROM t WHERE len(toks) >= 8),
         p AS (SELECT doc_id, unnest(ws) AS w FROM w0),
         d AS (SELECT w FROM p GROUP BY w HAVING count(*) >= 2)
         SELECT p.doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN d.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(sum(CASE WHEN d.w IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS dup_frac
         FROM p LEFT JOIN d ON p.w = d.w
         GROUP BY p.doc_id ORDER BY doc_id""",
    // entropy folds over the sorted distinct chars in both engines, so
    // the summation order matches; round(6) absorbs libm log2 ulps
    "text_entropy" ->
      """WITH t AS (SELECT doc_id, string_split(text, '') AS chars FROM documents),
         u AS (SELECT doc_id, chars, list_sort(list_distinct(chars)) AS uniq FROM t)
         SELECT doc_id,
           CAST(len(chars) AS INTEGER) AS n_chars_split,
           CAST(len(uniq) AS INTEGER) AS n_uniq,
           CASE WHEN len(chars) > 0 THEN
             round(list_sum([
               -(len(list_filter(chars, x -> x = c))::DOUBLE / len(chars))
                 * log2(len(list_filter(chars, x -> x = c))::DOUBLE / len(chars))
               FOR c IN uniq]), 6)
           ELSE 0.0 END AS entropy
         FROM u ORDER BY doc_id""",
    // size() is INT in Spark vs len() BIGINT in DuckDB — cast; the dup
    // fractions divide identical integers through IEEE doubles on both
    // sides, so round(,4) hash-matches exactly
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
               FROM documents),
         g AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) > 1 THEN
                   [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
                 ELSE [] END AS bi,
                 CASE WHEN len(toks) > 2 THEN
                   [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    FOR i IN range(1, len(toks) - 1)]
                 ELSE [] END AS tri
               FROM t)
         SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_words,
           CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 4)
           END AS dup_word_frac,
           CASE WHEN len(bi) = 0 THEN 0.0 ELSE
             round(1.0 - len(list_distinct(bi))::DOUBLE / len(bi)::DOUBLE, 4)
           END AS dup_bigram_frac,
           CASE WHEN len(tri) = 0 THEN 0.0 ELSE
             round(1.0 - len(list_distinct(tri))::DOUBLE / len(tri)::DOUBLE, 4)
           END AS dup_trigram_frac
         FROM g ORDER BY doc_id""",
    "text_boilerplate" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         g0 AS (SELECT doc_id, unnest([{'pos': i, 'gram': array_to_string(toks[i:i+7], ' ')}
                  for i in range(1, len(toks) - 6)]) AS gg FROM t),
         g AS (SELECT doc_id, gg.pos AS pos, gg.gram AS gram FROM g0),
         freq AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
                  GROUP BY gram HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tpos
                 FROM g WHERE gram IN (SELECT gram FROM freq)),
         tk0 AS (SELECT doc_id, unnest([{'tpos': i, 'token': toks[i]}
                  for i in range(1, len(toks) + 1)]) AS tt FROM t),
         tk AS (SELECT doc_id, tt.tpos AS tpos, tt.token AS token FROM tk0),
         kept AS (SELECT * FROM tk WHERE NOT EXISTS
                  (SELECT 1 FROM cov WHERE cov.doc_id = tk.doc_id
                   AND cov.tpos = tk.tpos)),
         ka AS (SELECT doc_id, count(*) AS n_kept,
                  array_to_string(list(token ORDER BY tpos), ' ') AS cleaned
                FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
           CAST(len(toks) - coalesce(ka.n_kept, 0) AS INTEGER) AS n_removed,
           coalesce(ka.cleaned, '') AS cleaned
         FROM t LEFT JOIN ka USING (doc_id) ORDER BY doc_id""",
    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         b0 AS (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                  for i in range(1, len(toks))]) AS bg FROM t),
         db AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b0),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM db GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v FROM
               (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
               WHERE w <> '')
         SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v))), 6) AS avg_logp
         FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         GROUP BY doc_id ORDER BY doc_id""",
    // Java-regex / RE2 agreeing patterns; counts via regexp_extract_all
    "text_code_detect" ->
      """WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT)
               AS sym_cnt,
             CAST(len(regexp_extract_all(text,
               '\b(def|return|import|class|function|var|int|void)\b'))
               AS BIGINT) AS kw_hits
           FROM documents)
         SELECT doc_id, n_chars, sym_cnt, kw_hits,
           round(sym_cnt::DOUBLE / n_chars, 6) AS sym_frac,
           (round(sym_cnt::DOUBLE / n_chars, 6) > 0.02 AND kw_hits >= 1)
             AS is_code_like
         FROM t ORDER BY doc_id""",
    // the bigram-LM CTE chain reused verbatim; nearest-rank decile via the
    // same running-count-over-histogram selection the engine runs
    "text_perplexity_filter" ->
      """WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents),
         b0 AS (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                  for i in range(1, len(toks))]) AS bg FROM t),
         db AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b0),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM db GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
         v AS (SELECT count(DISTINCT w) AS v FROM
               (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
               WHERE w <> ''),
         sk AS (SELECT doc_id, CAST(round(
               round(avg(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v))), 6) * 1e6)
               AS BIGINT) AS k
           FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
           GROUP BY doc_id),
         cum AS (SELECT k, sum(cnt) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS upto
           FROM (SELECT k, count(*) AS cnt FROM sk GROUP BY k)),
         nn AS (SELECT count(*) AS n FROM sk),
         thr AS (SELECT min(k) AS thr_k FROM cum CROSS JOIN nn
           WHERE upto >= CAST(ceil(n * 0.10) AS BIGINT)),
         d AS (SELECT doc.source,
             CAST(len(list_filter(str_split(lower(doc.text), ' '),
               x -> x <> '')) AS BIGINT) AS n_toks,
             sk.k
           FROM documents doc LEFT JOIN sk ON doc.doc_id = sk.doc_id)
         SELECT source, round(thr.thr_k / 1e6, 6) AS thr_logp,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(sum(CASE WHEN k <= thr.thr_k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(sum(CASE WHEN k > thr.thr_k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN k > thr.thr_k THEN n_toks ELSE 0 END) AS BIGINT)
             AS n_toks_kept
         FROM d CROSS JOIN thr GROUP BY source, thr_logp ORDER BY source""",
    // [EXT] dedup & similarity variants
    // image near-dup (perceptual hash): full bit-level replay of the
    // engine's 8×8 nearest-neighbor aHash over the closed-form BMP byte
    // rule (byte j = (base·31 + 7j) mod 256, variants = base id−1 with
    // +1 noise every 97th byte), banded 16-bit sigs with the
    // first-64-by-id cap, Hamming ≤ 6 on candidates — the oracle never
    // packs a 64-bit word, so no sign-bit hazard on either engine
    "dedup_image_phash" ->
      """WITH v AS (SELECT doc_id,
           CASE WHEN doc_id % 19 = 7 AND doc_id >= 1
                THEN doc_id - 1 ELSE doc_id END AS base,
           CASE WHEN doc_id % 19 = 7 AND doc_id >= 1 THEN 1 ELSE 0 END AS var
         FROM documents),
         dims AS (SELECT doc_id, base, var,
           base % 8 + 16 AS w, base % 6 + 16 AS h FROM v),
         grid AS (SELECT doc_id, base, var, kk.k AS k,
             (h - 1 - ((kk.k // 8) * h) // 8) * (w * 3)
               + 3 * (((kk.k % 8) * w) // 8) AS j0
           FROM dims, (SELECT unnest(range(64)) AS k) kk),
         gray AS (SELECT doc_id, k,
             (('0x' || substring(md5(base || '_' || (j0+0)), 1, 2))::INT + CASE WHEN var = 1 AND (j0+0) % 97 = 0 THEN 1 ELSE 0 END) % 256
           + (('0x' || substring(md5(base || '_' || (j0+1)), 1, 2))::INT + CASE WHEN var = 1 AND (j0+1) % 97 = 0 THEN 1 ELSE 0 END) % 256
           + (('0x' || substring(md5(base || '_' || (j0+2)), 1, 2))::INT + CASE WHEN var = 1 AND (j0+2) % 97 = 0 THEN 1 ELSE 0 END) % 256 AS g
           FROM grid),
         bits AS (SELECT doc_id, k,
             CASE WHEN 64 * g > sum(g) OVER (PARTITION BY doc_id)
                  THEN 1 ELSE 0 END AS bit
           FROM gray),
         bands AS (SELECT doc_id, k // 16 AS band,
             CAST(sum(bit * (1 << (k % 16))) AS BIGINT) AS sig
           FROM bits GROUP BY 1, 2),
         capped AS (SELECT doc_id, band, sig,
             row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
           FROM bands),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM capped x JOIN capped y
             ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
           WHERE x.rk <= 64 AND y.rk <= 64),
         ham AS (SELECT doc_a, doc_b,
             CAST(sum(abs(bx.bit - by.bit)) AS INTEGER) AS hamming
           FROM cand
             JOIN bits bx ON bx.doc_id = cand.doc_a
             JOIN bits by ON by.doc_id = cand.doc_b AND by.k = bx.k
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, hamming FROM ham
         WHERE hamming <= 6 ORDER BY doc_a, doc_b""",
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         sh0 AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                  for i in range(1, greatest(len(toks)-1, 2))]) AS sh FROM t),
         h AS (SELECT doc_id, list_transform(sh,
                 tk -> ('0x' || substring(md5(tk), 1, 15))::BIGINT) AS hs FROM sh0),
         bt AS (SELECT doc_id, [CAST(list_sum(list_transform(hs,
                  x -> CASE WHEN (x >> bb) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT)
                  for bb in range(0, 60)] AS bits FROM h),
         s AS (SELECT doc_id, CAST(list_sum([CASE WHEN bits[bb+1] > 0
                  THEN (1::BIGINT << bb) ELSE 0::BIGINT END
                  for bb in range(0, 60)]) AS BIGINT) AS simhash FROM bt),
         bd AS (SELECT doc_id, simhash, r.bb AS band,
                  (simhash >> (r.bb * 15)) & 32767 AS bval
                FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS bb) r),
         bdsz AS (SELECT band, bval FROM bd GROUP BY band, bval
                  HAVING count(*) BETWEEN 2 AND 64),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                  FROM bd a JOIN bd b2 ON a.band = b2.band AND a.bval = b2.bval
                   AND a.doc_id < b2.doc_id
                  JOIN bdsz ON bdsz.band = a.band AND bdsz.bval = a.bval),
         j AS (SELECT doc_a, doc_b,
                 bit_count(xor(sa.simhash, sb.simhash)) AS hamming
               FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM j
         WHERE hamming <= 6 ORDER BY doc_a, doc_b""",
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                for i in range(1, greatest(len(toks)-1, 2))]) AS sh FROM t),
         post AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         rare AS (SELECT shingle FROM post GROUP BY shingle
                  HAVING count(*) > 1 AND count(*) <= 10),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM post a JOIN post b ON a.shingle = b.shingle
                   AND a.doc_id < b.doc_id
                  WHERE a.shingle IN (SELECT shingle FROM rare)
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         j AS (SELECT doc_a, doc_b,
                 len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                 (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
               FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, round(jac, 6) AS jac FROM j
         WHERE round(jac, 6) >= 0.8 ORDER BY doc_a, doc_b""",
    // same blocking chain; asymmetric containment replaces Jaccard
    "text_containment" ->
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                for i in range(1, greatest(len(toks)-1, 2))]) AS sh FROM t),
         post AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         rare AS (SELECT shingle FROM post GROUP BY shingle
                  HAVING count(*) > 1 AND count(*) <= 10),
         cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM post a JOIN post b ON a.shingle = b.shingle
                   AND a.doc_id < b.doc_id
                  WHERE a.shingle IN (SELECT shingle FROM rare)
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         c AS (SELECT doc_a, doc_b,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh), 6)
                   AS cont_a_in_b,
                 round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sb.sh), 6)
                   AS cont_b_in_a
               FROM cand JOIN s sa ON sa.doc_id = doc_a
                         JOIN s sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM c
         WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.7
         ORDER BY doc_a, doc_b""",
    // oracle = the naive probes × vocab distance join the deletion-
    // variant blocking must be invisible against
    "join_fuzzy" ->
      """WITH tok AS (SELECT DISTINCT lower(unnest(string_split(text, ' '))) AS w
                      FROM documents WHERE text IS NOT NULL),
         vocab AS (SELECT w FROM tok WHERE w <> ''),
         probes AS (SELECT DISTINCT substr(w, 2) AS probe FROM vocab
                    WHERE length(w) >= 4)
         SELECT probe, w, CAST(levenshtein(probe, w) AS INTEGER) AS dist
         FROM probes CROSS JOIN vocab
         WHERE levenshtein(probe, w) <= 1
         ORDER BY probe, w""",
    // multiprobe: every vector posts to its block + the 8 single-bit flips
    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM $plantedEmbSrc),
         b AS (SELECT doc_id, v, CAST(list_sum([CASE WHEN v[i] > 0
                 THEN (1 << (i-1)) ELSE 0 END for i in range(1, 9)]) AS INT) AS block
               FROM e),
         post AS (SELECT doc_id, xor(block, f.flip) AS block FROM b,
                  (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS flip) f),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
                  FROM post a JOIN post b2 ON a.block = b2.block AND a.doc_id < b2.doc_id),
         j AS (SELECT doc_a AS vec_a, doc_b AS vec_b,
                 round(list_dot_product(va.v, vb.v) /
                   (sqrt(list_dot_product(va.v, va.v)) *
                    sqrt(list_dot_product(vb.v, vb.v))), 6) AS cos
               FROM cand JOIN b va ON va.doc_id = doc_a JOIN b vb ON vb.doc_id = doc_b)
         SELECT vec_a, vec_b, cos FROM j WHERE cos >= 0.95 ORDER BY vec_a, vec_b""",
    // Lloyd rounds unrolled like the pagerank oracle; everything integer-
    // exact, so even the learned centroids hash-match
    "sim_kmeans" -> kmeansOracleSql(16, 3, 64),
    "sim_pca_train" -> pcaTrainOracleSql,
    "sim_eval_rank_sweep" -> {
      def at(np: Int): String =
        s"""p_$np AS (SELECT cid AS cell FROM c CROSS JOIN q
               ORDER BY round(list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, cid LIMIT $np),
           ann_$np AS (SELECT vec_id, round(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
                 AS cos
               FROM asn JOIN p_$np USING(cell) CROSS JOIN q WHERE vec_id <> 0
               ORDER BY cos DESC, vec_id LIMIT 10),
           ar_$np AS (SELECT vec_id,
                 row_number() OVER (ORDER BY cos DESC, vec_id) AS arank
               FROM ann_$np),
           rels_$np AS (SELECT ar_$np.arank, coalesce(11 - er.erank, 0) AS rel
                FROM ar_$np LEFT JOIN er USING (vec_id)),
           dcg_$np AS (SELECT CAST(sum(CAST(round(rel * 1e6 /
                 (ln(arank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS dcg_u
               FROM rels_$np),
           mrr_$np AS (SELECT CAST(coalesce(1000000 // min(ar_$np.arank), 0)
                 AS BIGINT) AS mrr_u
               FROM er JOIN ar_$np USING (vec_id) WHERE er.erank = 1)"""
      def row(np: Int): String =
        s"""SELECT $np AS nprobe, (SELECT count(*) FROM er) AS k_eval,
             mrr_u, dcg_u, idcg.idcg_u,
             CAST((dcg_u * 1000000) // idcg.idcg_u AS BIGINT) AS ndcg_u
           FROM mrr_$np CROSS JOIN dcg_$np CROSS JOIN idcg"""
      val nps = Seq(1, 2, 4, 8)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS MATERIALIZED (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         ex AS (SELECT vec_id, round(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
               AS c9
             FROM e CROSS JOIN q WHERE vec_id <> 0
             ORDER BY c9 DESC, vec_id LIMIT 10),
         er AS MATERIALIZED (SELECT vec_id,
               row_number() OVER (ORDER BY c9 DESC, vec_id) AS erank FROM ex),
         idcg AS (SELECT CAST(sum(CAST(round((11 - erank) * 1e6 /
                    (ln(erank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS idcg_u
                  FROM er),
         ${nps.map(at).mkString(",\n         ")}
         ${nps.map(row).mkString("\n         UNION ALL ")}
         ORDER BY nprobe"""
    },
    "sim_eval_rank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         p AS (SELECT cid AS cell FROM c CROSS JOIN q
               ORDER BY round(list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, cid LIMIT 4),
         ann AS (SELECT vec_id, round(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
               AS cos
             FROM asn JOIN p USING(cell) CROSS JOIN q
             WHERE vec_id <> 0
             ORDER BY cos DESC, vec_id LIMIT 10),
         ar AS (SELECT vec_id,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS arank FROM ann),
         ex AS (SELECT vec_id, round(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
               AS c9
             FROM e CROSS JOIN q WHERE vec_id <> 0
             ORDER BY c9 DESC, vec_id LIMIT 10),
         er AS (SELECT vec_id,
               row_number() OVER (ORDER BY c9 DESC, vec_id) AS erank FROM ex),
         rels AS (SELECT ar.arank, coalesce(11 - er.erank, 0) AS rel
                  FROM ar LEFT JOIN er USING (vec_id)),
         dcg AS (SELECT CAST(sum(CAST(round(rel * 1e6 /
                   (ln(arank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS dcg_u
                 FROM rels),
         idcg AS (SELECT CAST(sum(CAST(round((11 - erank) * 1e6 /
                    (ln(erank + 1) / ln(2))) AS BIGINT)) AS BIGINT) AS idcg_u
                  FROM er),
         mrr AS (SELECT CAST(coalesce(1000000 // min(ar.arank), 0) AS BIGINT)
                   AS mrr_u
                 FROM er JOIN ar USING (vec_id) WHERE er.erank = 1)
         SELECT (SELECT count(*) FROM er) AS k_eval, mrr_u, dcg_u, idcg_u,
           CAST((dcg_u * 1000000) // idcg_u AS BIGINT) AS ndcg_u
         FROM mrr CROSS JOIN dcg CROSS JOIN idcg""",
    "sim_pca_project" -> pcaProjectOracleSql,
    // the stored layout serves the same banded census the project entry
    // histograms — bands 4–5 replayed without the partition store
    "sink_pca_layout" ->
      s"""WITH ${pcaCtes(8)},
         varr AS (SELECT list(v ORDER BY i) AS vv FROM vf),
         sc AS MATERIALIZED (SELECT vec_id,
             CAST(list_sum([xq[k] * vv[k] FOR k IN range(1, 65)]) AS BIGINT)
               AS score_u
           FROM eq CROSS JOIN varr),
         bnd AS (SELECT min(score_u) AS lo, max(score_u) AS hi FROM sc),
         banded AS (SELECT score_u,
             CAST(least((score_u - lo) * 10 // (hi - lo + 1), 9) AS INTEGER)
               AS band
           FROM sc CROSS JOIN bnd)
         SELECT band, count(*) AS n_vecs,
           min(score_u) AS lo_u, max(score_u) AS hi_u
         FROM banded WHERE band IN (4, 5) GROUP BY band ORDER BY band""",
    "sim_pca_train2" ->
      s"""WITH ${pcaCtes(8)},
         ${pca2Ctes(8)}
         SELECT 1 AS component, CAST(i - 1 AS INTEGER) AS dim_idx,
           v AS loading_u FROM vf
         UNION ALL
         SELECT 2, CAST(i - 1 AS INTEGER), v FROM vf2
         ORDER BY component, dim_idx""",
    "pipeline_coreset" ->
      s"""WITH ${kmeansCte(16, 2, 64)},
         q AS (SELECT cell, CAST(ceil(count(*) * 0.1) AS BIGINT) AS quota
               FROM kaf GROUP BY cell),
         r AS (SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY
                 ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                 vec_id) AS rn
             FROM kaf),
         sel AS (SELECT r.cell, r.vec_id,
                 CASE WHEN r.rn <= q.quota THEN 1 ELSE 0 END AS sel
               FROM r JOIN q ON r.cell = q.cell)
         SELECT cell, count(*)::BIGINT AS n_cell,
           CAST(sum(sel) AS BIGINT) AS n_selected,
           min(CASE WHEN sel = 1 THEN vec_id END) AS first_pick
         FROM sel GROUP BY cell ORDER BY cell""",
    "sim_pca_project2d" ->
      s"""WITH ${pcaCtes(8)},
         ${pca2Ctes(8)},
         varr AS (SELECT a.vv1, b.vv2 FROM
             (SELECT list(v ORDER BY i) AS vv1 FROM vf) a CROSS JOIN
             (SELECT list(v ORDER BY i) AS vv2 FROM vf2) b),
         sc AS MATERIALIZED (SELECT vec_id,
             CAST(list_sum([xq[k] * vv1[k] FOR k IN range(1, 65)]) AS BIGINT)
               AS s1,
             CAST(list_sum([xq[k] * vv2[k] FOR k IN range(1, 65)]) AS BIGINT)
               AS s2
           FROM eq CROSS JOIN varr),
         bnd AS (SELECT min(s1) AS lo1, max(s1) AS hi1,
                 min(s2) AS lo2, max(s2) AS hi2 FROM sc)
         SELECT CAST(least((s1 - lo1) * 8 // (hi1 - lo1 + 1), 7) AS BIGINT) AS gx,
           CAST(least((s2 - lo2) * 8 // (hi2 - lo2 + 1), 7) AS BIGINT) AS gy,
           count(*) AS n_vecs
         FROM sc CROSS JOIN bnd GROUP BY 1, 2 ORDER BY 1, 2""",
    "sim_pca_explained" -> pcaExplainedOracleSql,
    // exact-integer 2-sigma tail: (d2*n - S2) > 0 and its square > 4*(n*S4 - S2^2)
    "sim_ood_detect" ->
      s"""WITH ${kmeansCte(16, 3, 64)},
         dd AS (SELECT a.vec_id, a.cell,
             CAST(list_sum([(a.xq[i] - c.cvec[i]) * (a.xq[i] - c.cvec[i])
                            FOR i IN range(1, 65)]) AS BIGINT) AS d2
           FROM kaf a JOIN k3 c ON c.cid = a.cell),
         st AS (SELECT cell, CAST(sum(d2) AS BIGINT) AS sum_d2,
             CAST(sum(d2 * d2) AS BIGINT) AS sum_d4,
             count(*) AS n FROM dd GROUP BY cell)
         SELECT dd.cell, st.n AS n,
           CAST(sum(CASE WHEN dd.d2 * st.n - st.sum_d2 > 0
                      AND (dd.d2 * st.n - st.sum_d2) * (dd.d2 * st.n - st.sum_d2)
                          > 4 * (st.n * st.sum_d4 - st.sum_d2 * st.sum_d2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(st.sum_d2 AS DOUBLE) / st.n, 2) AS avg_d2,
           CAST(max(dd.d2) AS BIGINT) AS max_d2
         FROM dd JOIN st USING (cell)
         GROUP BY dd.cell, st.n, st.sum_d2, st.sum_d4 ORDER BY dd.cell""",
    // the whole funnel replicated stage by stage: quality gate (same
    // rounded arithmetic as text_quality), first-per-text exact dedup,
    // MinHash/LSH near-dup chain over the SURVIVORS, keep-first removal
    "pipeline_pretrain" ->
      s"""WITH q AS (SELECT doc_id, text FROM (
             SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents) dq
           WHERE round(0.5 * least(len(toks)::DOUBLE / 50.0, 1.0)
               + 0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                        / length(text))
               + 0.2 * (len(list_intersect(list_distinct(toks),
                     ['the','and','of','to','in','a','is','it']))::DOUBLE / 8.0),
               6) >= 0.5),
         e AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             FROM q) re WHERE rn = 1),
         ${nearDupCtes("e")},
         removed AS (SELECT DISTINCT doc_b AS doc_id FROM j
                     WHERE round(jac, 6) >= 0.6),
         kept AS (SELECT doc_id, text FROM e
                  WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
         st AS (
           SELECT 0 AS stage, count(*) AS n_docs,
             coalesce(sum(len(str_split(text, ' '))), 0) AS n_tokens FROM documents
           UNION ALL SELECT 1, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM q
           UNION ALL SELECT 2, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM e
           UNION ALL SELECT 3, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM kept)
         SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
         FROM st ORDER BY stage""",
    // the v2 funnel adds the repetition gate (text_repetition's rounded
    // dup-trigram fraction as a filter) between quality and exact dedup,
    // and the decontamination stage (text_decontaminate's 8-gram hashes;
    // bench grams from the ORIGINAL corpus slice) after near-dup removal
    "pipeline_pretrain_v2" ->
      s"""WITH q AS (SELECT doc_id, text FROM (
             SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents) dq
           WHERE round(0.5 * least(len(toks)::DOUBLE / 50.0, 1.0)
               + 0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                        / length(text))
               + 0.2 * (len(list_intersect(list_distinct(toks),
                     ['the','and','of','to','in','a','is','it']))::DOUBLE / 8.0),
               6) >= 0.5),
         rq AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS ft
             FROM q) rt
           WHERE (CASE WHEN len(ft) < 3 THEN 0.0 ELSE
               round(1.0 - len(list_distinct(
                   [ft[i] || ' ' || ft[i+1] || ' ' || ft[i+2]
                    FOR i IN range(1, len(ft) - 1)]))::DOUBLE
                 / (len(ft) - 2)::DOUBLE, 4) END) <= 0.05),
         e AS (SELECT doc_id, text FROM (
             SELECT doc_id, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             FROM rq) re WHERE rn = 1),
         ${nearDupCtes("e")},
         removed AS (SELECT DISTINCT doc_b AS doc_id FROM j
                     WHERE round(jac, 6) >= 0.6),
         kept AS (SELECT doc_id, text FROM e
                  WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
         gd AS (SELECT doc_id, str_split(text, ' ') AS gtoks FROM documents
                WHERE doc_id % 50 = 0),
         bench AS (SELECT DISTINCT unnest(gs) AS g FROM (
             SELECT list_distinct([
                 ('0x' || substring(md5(array_to_string(gtoks[i:i+7], ' ')), 1, 15))::BIGINT
                 FOR i IN range(1, len(gtoks) - 6)]) AS gs
             FROM gd WHERE len(gtoks) >= 8) bg),
         train AS (SELECT doc_id, text FROM kept WHERE doc_id % 50 <> 0),
         hit AS (SELECT DISTINCT doc_id FROM (
             SELECT doc_id, unnest(gs) AS g FROM (
               SELECT doc_id, list_distinct([
                   ('0x' || substring(md5(array_to_string(ttoks[i:i+7], ' ')), 1, 15))::BIGINT
                   FOR i IN range(1, len(ttoks) - 6)]) AS gs
               FROM (SELECT doc_id, str_split(text, ' ') AS ttoks FROM train) tt
               WHERE len(ttoks) >= 8) tg) tx
           WHERE g IN (SELECT g FROM bench)),
         fin AS (SELECT doc_id, text FROM train
                 WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         st AS (
           SELECT 0 AS stage, count(*) AS n_docs,
             coalesce(sum(len(str_split(text, ' '))), 0) AS n_tokens FROM documents
           UNION ALL SELECT 1, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM q
           UNION ALL SELECT 2, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM rq
           UNION ALL SELECT 3, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM e
           UNION ALL SELECT 4, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM kept
           UNION ALL SELECT 5, count(*),
             coalesce(sum(len(str_split(text, ' '))), 0) FROM fin)
         SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens
         FROM st ORDER BY stage""",
    // per-source prefix sum over doc_id order; sequence ids are pure
    // arithmetic on the running offset
    "pipeline_pack" ->
      """WITH t AS (SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
         w AS (SELECT source, doc_id, n_toks,
             CAST(coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_tok FROM t)
         SELECT source, doc_id, n_toks, start_tok,
           CAST(floor(start_tok / 64.0) AS BIGINT) AS seq_first,
           CAST(floor((start_tok + n_toks - 1) / 64.0) AS BIGINT) AS seq_last,
           CAST(floor((start_tok + n_toks - 1) / 64.0)
                - floor(start_tok / 64.0) + 1 AS BIGINT) AS n_seqs
         FROM w ORDER BY source, doc_id""",
    "pipeline_bpe_train" -> bpeOracle(6),
    "pipeline_wordpiece_train" -> wpOracle(6),
    "pipeline_wordpiece_apply" -> wpApplyOracle(6),
    // the WordPiece apply chain aggregated per language — the third
    // fertility table next to the BPE and unigram ones
    "pipeline_wordpiece_fertility" ->
      s"""${wpCtes(6)},
         v AS (SELECT w, len(str_split(trim(seq), ' '))::BIGINT AS n_sym
               FROM s6),
         d AS (SELECT lang, unnest(str_split(text, ' ')) AS w FROM documents)
         SELECT lang, count(*) AS n_ws, CAST(sum(n_sym) AS BIGINT) AS n_wp,
           round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS fertility
         FROM d JOIN v USING (w) WHERE len(w) > 0
         GROUP BY lang ORDER BY lang""",
    "pipeline_bpe_apply" -> bpeApplyOracle(6),
    // the apply chain aggregated per language instead of per doc
    "pipeline_fertility" ->
      s"""${bpeCtes(6)},
         v AS (SELECT w, len(str_split(trim(seq), ' '))::BIGINT AS n_sym
               FROM s6),
         d AS (SELECT lang, unnest(str_split(text, ' ')) AS w FROM documents)
         SELECT lang, count(*) AS n_ws, CAST(sum(n_sym) AS BIGINT) AS n_bpe,
           round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS fertility
         FROM d JOIN v USING (w) WHERE len(w) > 0
         GROUP BY lang ORDER BY lang""",
    // content-hashed shard + order-invariant bit_xor fingerprint: both
    // engines share the 60-bit md5 key, and DuckDB's BIGINT sum widens
    // to HUGEINT so n_tokens is cast back
    "pipeline_shard_manifest" ->
      """WITH d AS (SELECT doc_id,
             ('0x' || substring(md5(text), 1, 15))::BIGINT AS h,
             len(str_split(text, ' '))::BIGINT AS n_toks
           FROM documents)
         SELECT CAST(h % 8 AS INTEGER) AS shard, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           bit_xor(h) AS content_fp
         FROM d GROUP BY 1 ORDER BY 1""",
    // plain ntile over (score, doc_id) — the engine's histogram-rank
    // closed form reproduces exactly this membership
    "pipeline_curriculum" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             CAST(n_chars AS BIGINT) AS n_chars FROM documents),
         s AS (SELECT doc_id, n_toks,
             CAST(floor(n_chars * 1000.0 / n_toks) AS BIGINT) AS score FROM t),
         r AS (SELECT doc_id, n_toks, score,
             CAST(ntile(4) OVER (ORDER BY score, doc_id) AS BIGINT) AS stage
           FROM s)
         SELECT stage, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(score) AS min_score, max(score) AS max_score,
           first(doc_id ORDER BY score, doc_id) AS first_doc
         FROM r GROUP BY stage ORDER BY stage""",
    // same mask rule; the pair assembled with list algebra and
    // byte-compared (sliced segments clamp at the document tail)
    "pipeline_span_render" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           FROM documents),
         s AS (SELECT doc_id, tk, n_toks,
             CAST(floor((n_toks + 2) / 3.0) AS BIGINT) AS n_spans FROM t),
         sp AS (SELECT doc_id, n_toks,
             [{'m': substr(md5(doc_id || '|' || i), 1, 1) < '3',
               'seg': tk[(i * 3 + 1):least((i + 1) * 3, n_toks)]}
              FOR i IN range(0, n_spans)] AS spans
           FROM s)
         SELECT doc_id, n_toks,
           array_to_string(flatten(list_transform(spans,
             x -> CASE WHEN x.m THEN ['<M>'] ELSE x.seg END)), ' ')
             AS input_text,
           coalesce(array_to_string(list_transform(
             list_filter(spans, x -> x.m),
             x -> '<M> ' || array_to_string(x.seg, ' ')), ' '), '')
             AS target_text
         FROM sp ORDER BY doc_id""",
    // same (doc_id, span_idx) md5 mask rule; the last span's true size
    // via least(3, n_toks - i*3) on both engines
    "pipeline_span_corruption" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
         s AS (SELECT doc_id, n_toks,
             CAST(floor((n_toks + 2) / 3.0) AS BIGINT) AS n_spans FROM t),
         sp AS (SELECT doc_id, n_toks, n_spans,
             unnest(range(0, n_spans)) AS i FROM s),
         m AS (SELECT doc_id, n_toks, n_spans,
             substr(md5(doc_id || '|' || i), 1, 1) < '3' AS msk,
             least(3, n_toks - i * 3) AS sz FROM sp)
         SELECT doc_id, n_toks, n_spans,
           CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_masked,
           CAST(sum(CASE WHEN msk THEN sz ELSE 0 END) AS BIGINT) AS n_toks_masked,
           round(CAST(sum(CASE WHEN msk THEN sz ELSE 0 END) AS DOUBLE) / n_toks, 6)
             AS corrupt_rate
         FROM m GROUP BY doc_id, n_toks, n_spans ORDER BY doc_id""",
    // rate/threshold derived from the source index exactly as the
    // engine's mixture table builds them; same md5 first-digit rule
    // same md5-first-digit assignment; splits disjoint+exhaustive by
    // construction, shares audited per source
    // md5(epoch, doc) rank per epoch; shard census + order fingerprint
    "pipeline_epoch_shuffle" ->
      """WITH e AS (SELECT doc_id, unnest([1, 2]) AS epoch FROM documents),
         h AS (SELECT epoch, doc_id,
             md5(epoch || '|' || doc_id) AS h FROM e),
         r AS (SELECT epoch, doc_id,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
               AS BIGINT) - 1 AS pos
           FROM h),
         m AS (SELECT epoch, doc_id, pos // 64 AS shard,
             pos % 64 AS off FROM r)
         SELECT CAST(epoch AS INTEGER) AS epoch, shard, count(*) AS n_docs,
           min(doc_id) AS first_doc,
           CAST(sum(off * doc_id) AS BIGINT) AS order_fp
         FROM m GROUP BY epoch, shard ORDER BY epoch, shard""",
    // explicit power-of-two thresholds (float log2 mis-buckets powers)
    "pipeline_length_buckets" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents),
         b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
             WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
             WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
             ELSE 1024 END AS bucket FROM t),
         g AS (SELECT CAST(bucket AS BIGINT) AS bucket,
             count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_toks
           FROM b GROUP BY bucket)
         SELECT bucket, n_docs, sum_toks,
           CAST(4096 // bucket AS BIGINT) AS rows_per_batch,
           CAST((n_docs + (4096 // bucket) - 1) // (4096 // bucket) AS BIGINT)
             AS n_batches,
           round(sum_toks::DOUBLE / (n_docs * bucket), 6) AS pad_efficiency
         FROM g ORDER BY bucket""",
    "pipeline_split" ->
      """WITH d AS (SELECT source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                    THEN 'val'
                  ELSE 'test' END AS split,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           FROM documents)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY source), 6)
             AS doc_share
         FROM d GROUP BY source, split ORDER BY source, split""",
    "pipeline_mix" ->
      """WITH mix AS (SELECT source,
             CAST(CASE (CAST(substr(source, 4) AS INTEGER) % 4)
               WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25
               ELSE 0.125 END AS DOUBLE) AS rate,
             CASE (CAST(substr(source, 4) AS INTEGER) % 4)
               WHEN 0 THEN 'g' WHEN 1 THEN '8' WHEN 2 THEN '4'
               ELSE '2' END AS thr
           FROM (SELECT DISTINCT source FROM documents)),
         d AS (SELECT doc.source, mix.rate,
             substr(md5(CAST(doc.doc_id AS VARCHAR)), 1, 1) < mix.thr AS kept,
             CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_toks
           FROM documents doc JOIN mix USING (source)),
         a AS (SELECT source, rate,
             CAST(count(*) AS BIGINT) AS n_docs_in,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
             CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
               AS n_tokens_kept
           FROM d GROUP BY source, rate)
         SELECT source, rate, n_docs_in, n_docs_kept, n_tokens_kept,
           round(n_tokens_kept / sum(n_tokens_kept) OVER (), 6) AS token_share
         FROM a ORDER BY source""",
    // chunk starts at 0, 24, 48, …: ceil((n-8)/24) chunks, at least one;
    // list slicing clamps the final short chunk on both engines
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
             unnest(range(0, greatest(1,
               CAST(floor((n + 15) / 24.0) AS BIGINT)))) AS i FROM t)
         SELECT doc_id, i AS chunk_idx, i * 24 AS start_tok,
           least(32, n - i * 24) AS n_chunk_toks,
           array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    // the canonical form rebuilt BY CONSTRUCTION from the id fields the
    // synthetic URL derives from (the fn_url precedent): noise — case,
    // utm params, param order, fragment — never reaches the key
    "dedup_url" ->
      """SELECT 'https://host' || CAST(doc_id % 20 AS VARCHAR) ||
             '.example.com/docs/' || CAST(doc_id % 200 AS VARCHAR) ||
             '?id=' || CAST(doc_id % 200 AS VARCHAR) ||
             '&ref=r' || CAST((doc_id % 200) % 7 AS VARCHAR) AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS first_doc
         FROM documents GROUP BY 1 ORDER BY canonical_url""",
    // the norm-bound prune is EXACT (Cauchy–Schwarz), so the oracle is
    // plain brute-force max-inner-product top-k
    "sim_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 7)
         SELECT vec_id, round(list_dot_product(v, qv), 6) AS ip
         FROM e, q WHERE vec_id <> 7 ORDER BY ip DESC, vec_id LIMIT 10""",
    // oracle = brute-force radius scan; the norm prune must be invisible.
    // The filter runs on the UNROUNDED dot in both engines (both sum the
    // 64 dims left-to-right in double, and the fixture's nearest dot sits
    // ≥1e-4 from τ at every sf — probed before τ was frozen)
    "sim_radius" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 7)
         SELECT vec_id, round(list_dot_product(v, qv), 6) AS ip
         FROM e, q WHERE vec_id <> 7 AND list_dot_product(v, qv) >= 0.15
         ORDER BY ip DESC, vec_id""",
    // the full SemDeDup pipeline replicated: kmeans chain → within-cell
    // pairs → exact cosine verify
    "dedup_semantic" ->
      s"""WITH ${kmeansCte(16, 3, 64, src = plantedEmbSrc)},
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $plantedEmbSrc),
         cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM kaf a JOIN kaf b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id),
         j AS (SELECT doc_a AS vec_a, doc_b AS vec_b,
                 round(list_dot_product(va.v, vb.v) /
                   (sqrt(list_dot_product(va.v, va.v)) *
                    sqrt(list_dot_product(vb.v, vb.v))), 6) AS cos
               FROM cand JOIN e va ON va.vec_id = doc_a
                         JOIN e vb ON vb.vec_id = doc_b)
         SELECT vec_a, vec_b, cos FROM j WHERE cos >= 0.95
         ORDER BY vec_a, vec_b""",
    "sim_ivf_kmeans" -> ivfKmeansOracleSql(16, 3, 64),
    // the cell-partitioned parquet round-trip is data-invisible (long /
    // array<double> round-trip exactly; the partition value re-reads as
    // the same integer), so the persisted-index serving path answers
    // with the same rows as the in-query learned IVF
    "sink_ann_index" -> ivfKmeansOracleSql(16, 3, 64),
    "sim_ivf" -> simIvfOracleSql,
    // IVF cell pruning composed with the PQ ADC rank — both CTE chains verbatim
    "sim_ivf_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         p AS (SELECT cid AS cell FROM c CROSS JOIN q
               ORDER BY round(list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, cid LIMIT 4),
         cb AS (SELECT list(v ORDER BY vec_id) AS cents FROM e WHERE vec_id < 16),
         scored AS (SELECT vec_id, v,
           [[ list_sum([ (v[s*8+i] - c2[s*8+i]) * (v[s*8+i] - c2[s*8+i])
                         FOR i IN range(1, 9) ])
              FOR c2 IN cents ] FOR s IN range(0, 8)] AS st
           FROM e CROSS JOIN cb),
         enc AS (SELECT vec_id, v,
                   [ list_position(sc, list_min(sc)) FOR sc IN st ] AS codes
                 FROM scored),
         qt AS (SELECT st AS dt, v AS qv2 FROM scored WHERE vec_id = 0)
         SELECT enc.vec_id,
           round(list_sum([ dt[s][codes[s]] FOR s IN range(1, 9) ]), 6) AS adc_dist,
           round(list_dot_product(enc.v, qv2) /
             (sqrt(list_dot_product(enc.v, enc.v)) *
              sqrt(list_dot_product(qv2, qv2))), 6) AS cos_exact
         FROM enc JOIN asn USING (vec_id) JOIN p USING (cell) CROSS JOIN qt
         ORDER BY adc_dist ASC, vec_id LIMIT 10""",
    // margin mining: targets assigned to one cell each, sources probe 4
    // cells, per-source top-4 pivoted so the margin folds c1..c4 in a
    // fixed association order on both engines
    "sim_bitext" ->
      """WITH e AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         t AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE label = 1),
         s AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE label = 0),
         ta AS (SELECT tgt_id, tv, cid AS cell FROM (
             SELECT tgt_id, tv, cid, row_number() OVER (PARTITION BY tgt_id
               ORDER BY round(list_dot_product(tv, cv) /
                 (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(cv, cv))), 9)
                 DESC, cid) AS rn
             FROM t CROSS JOIN c) WHERE rn = 1),
         pr AS (SELECT src_id, sv, cid AS cell FROM (
             SELECT src_id, sv, cid, row_number() OVER (PARTITION BY src_id
               ORDER BY round(list_dot_product(sv, cv) /
                 (sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(cv, cv))), 9)
                 DESC, cid) AS rn
             FROM s CROSS JOIN c) WHERE rn <= 4),
         cand AS (SELECT src_id, tgt_id,
               round(list_dot_product(sv, tv) /
                 (sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(tv, tv))), 9) AS cos
             FROM pr JOIN ta USING (cell)),
         rk AS (SELECT src_id, tgt_id, cos, row_number() OVER
                  (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rn
                FROM cand),
         piv AS (SELECT src_id,
             max(CASE WHEN rn = 1 THEN tgt_id END) AS best_tgt,
             max(CASE WHEN rn = 1 THEN cos END) AS c1,
             max(CASE WHEN rn = 2 THEN cos END) AS c2,
             max(CASE WHEN rn = 3 THEN cos END) AS c3,
             max(CASE WHEN rn = 4 THEN cos END) AS c4,
             count(*) AS n
           FROM rk WHERE rn <= 4 GROUP BY src_id HAVING count(*) >= 4)
         SELECT src_id, best_tgt, round(c1, 6) AS cos,
           round(c1 / ((c1 + c2 + c3 + c4) / 4.0), 6) AS margin
         FROM piv ORDER BY src_id""",
    // the sim_ivf ranking with the metadata predicate applied to the
    // corpus BEFORE assignment/ranking (pre-filter form); the query
    // vector is drawn from the UNFILTERED table
    "sim_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         f AS (SELECT vec_id, v FROM e WHERE label % 3 = 0),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM f CROSS JOIN c),
         asn AS (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         p AS (SELECT cid AS cell FROM c CROSS JOIN q
               ORDER BY round(list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, cid LIMIT 4)
         SELECT vec_id, round(list_dot_product(v, qv) /
           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
         FROM asn JOIN p USING(cell) CROSS JOIN q
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // recall@k compares IDENTITY sets: approx = the sim_ivf oracle as a
    // CTE verbatim, exact = brute force with the same rounded-cosine
    // tie-break; the audit rides entirely on already-proven rankings
    // 4x4 sliced dot grid + per-part greatest + fixed-order sum, all
    // mirrored; DuckDB list slices are 1-based inclusive like Spark's
    "sim_maxsim" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         SELECT vec_id, round(
             greatest(list_dot_product(v[1:16], qv[1:16]),
                      list_dot_product(v[17:32], qv[1:16]),
                      list_dot_product(v[33:48], qv[1:16]),
                      list_dot_product(v[49:64], qv[1:16]))
           + greatest(list_dot_product(v[1:16], qv[17:32]),
                      list_dot_product(v[17:32], qv[17:32]),
                      list_dot_product(v[33:48], qv[17:32]),
                      list_dot_product(v[49:64], qv[17:32]))
           + greatest(list_dot_product(v[1:16], qv[33:48]),
                      list_dot_product(v[17:32], qv[33:48]),
                      list_dot_product(v[33:48], qv[33:48]),
                      list_dot_product(v[49:64], qv[33:48]))
           + greatest(list_dot_product(v[1:16], qv[49:64]),
                      list_dot_product(v[17:32], qv[49:64]),
                      list_dot_product(v[33:48], qv[49:64]),
                      list_dot_product(v[49:64], qv[49:64])), 6) AS maxsim
         FROM e CROSS JOIN q WHERE vec_id <> 0
         ORDER BY maxsim DESC, vec_id LIMIT 10""",
    // both legs' top-10 ranked under their rounded-score total orders;
    // RRF folds two fixed-order terms — no score calibration anywhere
    "sim_hybrid_rrf" ->
      """WITH nd AS (SELECT count(*) AS n FROM documents),
         toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           FROM documents),
         qt AS (SELECT doc_id, w FROM toks WHERE w IN ('hash', 'join')),
         dft AS (SELECT w, count(DISTINCT doc_id) AS df FROM qt GROUP BY w),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM qt GROUP BY doc_id, w),
         lex AS (SELECT doc_id, round(sum(tf * ln(n::DOUBLE / df)), 6) AS s6
           FROM tf JOIN dft USING (w) CROSS JOIN nd GROUP BY doc_id),
         lex10 AS (SELECT doc_id, s6 FROM lex ORDER BY s6 DESC, doc_id LIMIT 10),
         lexr AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY s6 DESC, doc_id) AS INTEGER)
               AS lex_rank FROM lex10),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         vec AS (SELECT vec_id AS doc_id,
             round(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
               AS c9
           FROM e CROSS JOIN q),
         vec10 AS (SELECT doc_id, c9 FROM vec ORDER BY c9 DESC, doc_id LIMIT 10),
         vecr AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY c9 DESC, doc_id) AS INTEGER)
               AS vec_rank FROM vec10)
         SELECT doc_id, lex_rank, vec_rank,
           round(coalesce(1.0 / (60 + lex_rank), 0)
                 + coalesce(1.0 / (60 + vec_rank), 0), 6) AS rrf
         FROM lexr FULL OUTER JOIN vecr USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    // one ranked probe list serves every sweep point (prn <= np)
    "sim_ivf_nprobe_sweep" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN c),
         asn AS MATERIALIZED (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         pr AS MATERIALIZED (SELECT cid AS cell, row_number() OVER (
                 ORDER BY round(list_dot_product(cv, qv) /
                   (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                   DESC, cid) AS prn
               FROM c CROSS JOIN q),
         exact AS MATERIALIZED (SELECT vec_id FROM e CROSS JOIN q
               ORDER BY round(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, vec_id LIMIT 10)
         SELECT * FROM (
           SELECT 1 AS nprobe, count(*) AS k_eval,
             CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS recall
           FROM exact ex LEFT JOIN
             (SELECT vec_id FROM asn JOIN
                (SELECT cell FROM pr WHERE prn <= 1) p1 USING (cell)
              CROSS JOIN q
              ORDER BY round(list_dot_product(v, qv) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
                DESC, vec_id LIMIT 10) ap
           ON ap.vec_id = ex.vec_id
           UNION ALL SELECT 2 AS nprobe, count(*) AS k_eval,
             CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS recall
           FROM exact ex LEFT JOIN
             (SELECT vec_id FROM asn JOIN
                (SELECT cell FROM pr WHERE prn <= 2) p2 USING (cell)
              CROSS JOIN q
              ORDER BY round(list_dot_product(v, qv) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
                DESC, vec_id LIMIT 10) ap
           ON ap.vec_id = ex.vec_id
           UNION ALL SELECT 4 AS nprobe, count(*) AS k_eval,
             CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS recall
           FROM exact ex LEFT JOIN
             (SELECT vec_id FROM asn JOIN
                (SELECT cell FROM pr WHERE prn <= 4) p4 USING (cell)
              CROSS JOIN q
              ORDER BY round(list_dot_product(v, qv) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
                DESC, vec_id LIMIT 10) ap
           ON ap.vec_id = ex.vec_id
           UNION ALL SELECT 8 AS nprobe, count(*) AS k_eval,
             CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS recall
           FROM exact ex LEFT JOIN
             (SELECT vec_id FROM asn JOIN
                (SELECT cell FROM pr WHERE prn <= 8) p8 USING (cell)
              CROSS JOIN q
              ORDER BY round(list_dot_product(v, qv) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
                DESC, vec_id LIMIT 10) ap
           ON ap.vec_id = ex.vec_id) u
         ORDER BY nprobe""",
    // the single-k audit generalized: per-k cuts over the ranked exact
    // top-10 via a constant k list — identical join, k-wise census
    "sim_ivf_recall_curve" ->
      s"""WITH approx AS ($simIvfOracleSql),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         exact AS (SELECT vec_id, row_number() OVER (ORDER BY
             round(list_dot_product(v, qv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
             DESC, vec_id) AS rnk
           FROM e CROSS JOIN q
           QUALIFY rnk <= 10),
         j AS (SELECT ex.rnk,
             CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM exact ex LEFT JOIN (SELECT vec_id FROM approx) a USING (vec_id))
         SELECT kk AS k,
           CAST(sum(CASE WHEN rnk <= kk THEN hit ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(sum(CASE WHEN rnk <= kk THEN hit ELSE 0 END) AS DOUBLE)
             / kk, 6) AS recall
         FROM j CROSS JOIN (SELECT unnest([1, 3, 5, 10]) AS kk)
         GROUP BY kk ORDER BY kk""",
    "sim_ivf_recall" ->
      s"""WITH approx AS ($simIvfOracleSql),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         exact AS (SELECT vec_id FROM e CROSS JOIN q
           ORDER BY round(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 9)
             DESC, vec_id
           LIMIT 10)
         SELECT count(*) AS k_eval,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS recall
         FROM exact x LEFT JOIN approx a ON x.vec_id = a.vec_id""",
    // sampled exact top-k vs the kmeans-cell graph, edge-for-edge
    "sim_knn_graph_recall" ->
      s"""WITH $knnGraphCte,
         p2 AS (SELECT vec_id AS src, v AS sv FROM e WHERE vec_id % 50 = 0),
         ex0 AS (SELECT p2.src, e2.vec_id AS dst,
             round(list_dot_product(e2.v, p2.sv) /
               (sqrt(list_dot_product(e2.v, e2.v)) *
                sqrt(list_dot_product(p2.sv, p2.sv))), 6) AS cos
           FROM e e2 CROSS JOIN p2 WHERE e2.vec_id <> p2.src),
         ex1 AS (SELECT src, dst, row_number() OVER
             (PARTITION BY src ORDER BY cos DESC, dst) AS rn
           FROM ex0 WHERE cos >= 0.3),
         ex AS (SELECT src, dst FROM ex1 WHERE rn <= 3)
         SELECT count(*) AS k_eval,
           CAST(sum(CASE WHEN g.dst IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(CAST(sum(CASE WHEN g.dst IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS recall
         FROM ex LEFT JOIN g ON g.src = ex.src AND g.dst = ex.dst""",
    // every vector probes its 8 nearest learned centroids (nprobe of the
    // 16-cell integer-kmeans codebook, candidates symmetrized — the dial
    // the recall audit set: 0.93 at sf0.1); the native operator's
    // retained top-3 set equals the row_number form under the (cos, dst)
    // total order
    "sim_knn_graph" ->
      s"""WITH $knnGraphCte
         SELECT src, dst, cos FROM g
         ORDER BY src, cos DESC, dst""",
    "sim_join_bucketed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cells AS (SELECT vec_id, v,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END
              + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END
              + CASE WHEN v[5] > 0 THEN 16 ELSE 0 END) AS cell
           FROM e),
         probes AS (SELECT vec_id AS probe_id, v AS pv, xor(cell, flip) AS cell
           FROM cells,
             (SELECT unnest([0,1,2,4,8,16,3,5,9,17,6,10,18,12,20,24]) AS flip)
           WHERE vec_id % 25 = 0),
         cand AS (SELECT p.probe_id, c.vec_id,
             round(list_dot_product(c.v, p.pv) /
               (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6) AS cos
           FROM cells c JOIN probes p USING (cell)
           WHERE c.vec_id <> p.probe_id),
         f AS (SELECT probe_id, vec_id, cos, row_number() OVER
             (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn
           FROM cand WHERE cos >= 0.3)
         SELECT probe_id, CAST(rn AS INTEGER) AS rn, vec_id, cos
         FROM f WHERE rn <= 3 ORDER BY probe_id, rn""",
    // the quantized dot is exact integer arithmetic in both engines, so
    // even the RANKING is oracle-checkable (unlike float-scored ANN)
    "sim_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
         q AS (SELECT vec_id, v, list_transform(v, x -> round(x * 127.0 / s)) AS qd
               FROM e CROSS JOIN sc),
         p AS (SELECT qd AS pq, v AS pv FROM q WHERE vec_id = 0)
         SELECT q.vec_id,
           CAST(list_dot_product(q.qd, p.pq) AS BIGINT) AS qdot,
           round(list_dot_product(q.v, p.pv) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(p.pv, p.pv))), 6)
             AS cos_exact
         FROM q CROSS JOIN p
         ORDER BY qdot DESC, vec_id LIMIT 10""",
    // coarse rank on the 16-dim prefix, exact rerank on the full width
    "sim_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST(embedding AS DOUBLE[])[1:16] AS v16 FROM embeddings),
         p AS (SELECT v16 AS p16, v AS pv FROM e WHERE vec_id = 0),
         s1 AS (SELECT e.vec_id, e.v, p.pv,
                  round(list_dot_product(e.v16, p.p16) /
                    (sqrt(list_dot_product(e.v16, e.v16)) *
                     sqrt(list_dot_product(p.p16, p.p16))), 6) AS cos16
                FROM e CROSS JOIN p
                ORDER BY cos16 DESC, vec_id LIMIT 50)
         SELECT vec_id, cos16,
           round(list_dot_product(v, pv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6)
             AS cos_full
         FROM s1 ORDER BY cos_full DESC, vec_id LIMIT 10""",
    "sim_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS s FROM e),
         q AS (SELECT vec_id, v, list_transform(v, x -> round(x * 127.0 / s)) AS qd
               FROM e CROSS JOIN sc),
         p AS (SELECT qd AS pq, v AS pv FROM q WHERE vec_id = 0),
         s1 AS (SELECT q.vec_id, q.v, p.pv,
                  CAST(list_dot_product(q.qd, p.pq) AS BIGINT) AS qdot
                FROM q CROSS JOIN p
                ORDER BY qdot DESC, vec_id LIMIT 50)
         SELECT vec_id, qdot,
           round(list_dot_product(v, pv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6)
             AS cos_exact
         FROM s1 ORDER BY cos_exact DESC, vec_id LIMIT 10""",
    // exact replication of the PQ encode + ADC scan: same codebook (first
    // 16 vectors, ordered), same first-index argmin tie-break, same
    // sequential fold order for every double sum
    "sim_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (SELECT list(v ORDER BY vec_id) AS cents FROM e WHERE vec_id < 16),
         scored AS (SELECT vec_id, v,
           [[ list_sum([ (v[s*8+i] - c[s*8+i]) * (v[s*8+i] - c[s*8+i])
                         FOR i IN range(1, 9) ])
              FOR c IN cents ] FOR s IN range(0, 8)] AS st
           FROM e CROSS JOIN cb),
         enc AS (SELECT vec_id, v,
                   [ list_position(sc, list_min(sc)) FOR sc IN st ] AS codes
                 FROM scored),
         qt AS (SELECT st AS dt, v AS qv FROM scored WHERE vec_id = 0)
         SELECT enc.vec_id,
           round(list_sum([ dt[s][codes[s]] FOR s IN range(1, 9) ]), 6) AS adc_dist,
           round(list_dot_product(enc.v, qv) /
             (sqrt(list_dot_product(enc.v, enc.v)) * sqrt(list_dot_product(qv, qv))), 6)
             AS cos_exact
         FROM enc CROSS JOIN qt
         ORDER BY adc_dist ASC, vec_id LIMIT 10""",
    "sim_pq_kmeans" -> pqKmeansOracleSql(8, 8, 16, 3),
    // quality suite: each expectation is a conditional aggregate over one
    // scan; DuckDB sum(int) is HUGEINT so every count casts to BIGINT
    "quality_expectations" -> qualityExpectationsOracleSql,
    // profile diff: both snapshots' profiles from ONE scan via filtered
    // aggregates, unpivoted to (column, metric, a, b, delta)
    "quality_profile_diff" ->
      """WITH p AS (SELECT
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 1
                 ELSE 0 END) AS DOUBLE) AS a_rows,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01' THEN 1
                 ELSE 0 END) AS DOUBLE) AS b_rows,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 AND o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS a_tp_nulls,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 AND o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS b_tp_nulls,
             CAST(count(DISTINCT CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_totalprice END) AS DOUBLE) AS a_tp_distinct,
             CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_totalprice END) AS DOUBLE) AS b_tp_distinct,
             round(min(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS a_tp_min,
             round(min(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS b_tp_min,
             round(max(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS a_tp_max,
             round(max(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS b_tp_max,
             round(avg(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS a_tp_mean,
             round(avg(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_totalprice END), 2) AS b_tp_mean,
             CAST(count(DISTINCT CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_orderstatus END) AS DOUBLE) AS a_st_distinct,
             CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_orderstatus END) AS DOUBLE) AS b_st_distinct,
             CAST(count(DISTINCT CASE WHEN o_orderdate < TIMESTAMP '1998-07-01'
                 THEN o_orderpriority END) AS DOUBLE) AS a_pr_distinct,
             CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01'
                 THEN o_orderpriority END) AS DOUBLE) AS b_pr_distinct
           FROM orders),
         rows_ AS (
           SELECT '_table' AS col_name, 'row_count' AS metric,
                  a_rows AS a, b_rows AS b FROM p
           UNION ALL SELECT 'o_totalprice', 'null_count', a_tp_nulls, b_tp_nulls FROM p
           UNION ALL SELECT 'o_totalprice', 'n_distinct', a_tp_distinct, b_tp_distinct FROM p
           UNION ALL SELECT 'o_totalprice', 'min', a_tp_min, b_tp_min FROM p
           UNION ALL SELECT 'o_totalprice', 'max', a_tp_max, b_tp_max FROM p
           UNION ALL SELECT 'o_totalprice', 'mean', a_tp_mean, b_tp_mean FROM p
           UNION ALL SELECT 'o_orderstatus', 'n_distinct', a_st_distinct, b_st_distinct FROM p
           UNION ALL SELECT 'o_orderpriority', 'n_distinct', a_pr_distinct, b_pr_distinct FROM p)
         SELECT col_name, metric, a, b, round(b - a, 2) AS delta
         FROM rows_ ORDER BY col_name, metric""",
    // PSI drift: same closed-form buckets, Laplace (+1/+10) smoothing;
    // per-bucket terms in integer micro-units so the summary row's sum is
    // summation-order-proof (round-before-sum, the house contract)
    "quality_drift_psi" -> qualityDriftPsiOracleSql,
    "quality_freshness" -> qualityFreshnessOracleSql,
    // robust z over the day histogram: median/MAD are exact
    // half-integers (quantile_cont = percentile), the z statistic is
    // the exact integer rational z_num/z_den (z = 0.6745*z_num/z_den),
    // and the outlier flag is an integer cross-multiplication — no
    // float rounding anywhere
    "quality_anomaly" -> qualityAnomalyOracleSql,
    "ts_seasonal_decompose" -> tsSeasonalOracleSql,
    "quality_cusum" -> qualityCusumOracleSql,
    "ts_holt" -> tsHoltOracleSql,
    // the robust-z kernel per event-type slice: per-group exact
    // median/MAD, integer-rational z, per-type planted spike
    "quality_anomaly_grouped" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         sp AS (SELECT event_type, max(day) + 30 AS day,
             CAST(max(n) * 8 AS BIGINT) AS n
           FROM daily GROUP BY event_type),
         d AS (SELECT * FROM daily UNION ALL SELECT * FROM sp),
         s1 AS (SELECT event_type, quantile_cont(n, 0.5) AS med
                FROM d GROUP BY event_type),
         wm AS (SELECT d.event_type, day, n, med
                FROM d JOIN s1 USING (event_type)),
         s2 AS (SELECT event_type, quantile_cont(abs(n - med), 0.5) AS mad
                FROM wm GROUP BY event_type)
         SELECT wm.event_type, strftime(day, '%Y-%m-%d') AS day, n, med, mad,
           CAST(n * 2 - CAST(med * 2 AS BIGINT) AS BIGINT) AS z_num,
           CAST(mad * 2 AS BIGINT) AS z_den,
           CASE WHEN CAST(mad * 2 AS BIGINT) = 0 THEN 0
                WHEN abs(n * 2 - CAST(med * 2 AS BIGINT)) * 6745 >
                     CAST(mad * 2 AS BIGINT) * 35000 THEN 1 ELSE 0 END
             AS outlier
         FROM wm JOIN s2 USING (event_type)
         ORDER BY event_type, day""",
    // batch-equivalence: the twin drains the same day histogram into the
    // shared holtScore kernel
    "stream_holt" -> tsHoltOracleSql,
    // the report aggregates the SAME funnel CTE chain (conversion in
    // exact ppm, latencies in integer micros — all integer division)
    "events_funnel_summary" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         s1 AS (SELECT user_id, min(tsu) AS t1_us,
                  min(tsu) + 172800000000 AS dl_us
                FROM ev WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(tsu) AS t2_us
                FROM ev e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND tsu > t1_us AND tsu <= dl_us
                GROUP BY e.user_id),
         s12 AS (SELECT s1.user_id, t1_us, dl_us, t2_us
                 FROM s1 LEFT JOIN s2 USING (user_id)),
         s3 AS (SELECT e.user_id, min(tsu) AS t3_us
                FROM ev e JOIN s12 USING (user_id)
                WHERE event_type = 'purchase' AND t2_us IS NOT NULL
                  AND tsu > t2_us AND tsu <= dl_us
                GROUP BY e.user_id),
         f AS (SELECT s12.user_id, t1_us, t2_us, t3_us
               FROM s12 LEFT JOIN s3 USING (user_id)),
         a AS (SELECT count(*)::BIGINT AS n1, count(t2_us)::BIGINT AS n2,
                 count(t3_us)::BIGINT AS n3,
                 coalesce(sum(t2_us - t1_us), 0)::BIGINT AS d2,
                 coalesce(sum(t3_us - t1_us), 0)::BIGINT AS d3
               FROM f)
         SELECT * FROM (
           SELECT 1 AS step, n1 AS n_reached,
             CASE WHEN n1 = 0 THEN 0 ELSE 1000000 END::BIGINT AS conv_ppm,
             0::BIGINT AS avg_us_from_entry FROM a
           UNION ALL SELECT 2, n2,
             CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END,
             CASE WHEN n2 = 0 THEN 0 ELSE d2 // n2 END FROM a
           UNION ALL SELECT 3, n3,
             CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) // n1 END,
             CASE WHEN n3 = 0 THEN 0 ELSE d3 // n3 END FROM a)
         ORDER BY step""",
    // closed-form replay of the BMP pixel rule: non-pad byte j =
    // (id·31+7j) mod 256 row-major; channel = j mod 3; gradient only
    // within rows (x ≥ 3), padding excluded exactly as in the decode
    "multimodal_image_features" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 8 + 2 AS BIGINT) AS w,
             CAST(doc_id % 6 + 2 AS BIGINT) AS h,
             CASE WHEN doc_id % 13 = 5 THEN 'bad_magic'
                  WHEN doc_id % 13 = 9 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         px AS (SELECT doc_id, status, w * 3 AS rb, w * 3 * h AS nb,
             list_transform(range(0, w * 3 * h),
               j -> (doc_id * 31 + 7 * j) % 256) AS v
           FROM d)
         SELECT doc_id, status,
           CAST(CASE WHEN status = 'ok' THEN
               list_sum(list_transform(list_filter(range(0, nb),
                 j -> j % 3 = 1), j -> v[j + 1]))
             ELSE 0 END AS BIGINT) AS green_sum,
           CAST(CASE WHEN status = 'ok' THEN
               list_sum(list_transform(list_filter(range(0, nb),
                 j -> j % 3 = 2), j -> v[j + 1]))
             ELSE 0 END AS BIGINT) AS red_sum,
           CAST(CASE WHEN status = 'ok' THEN
               list_sum(list_transform(list_filter(range(0, nb),
                 j -> j % rb >= 3), j -> abs(v[j + 1] - v[j - 2])))
             ELSE 0 END AS BIGINT) AS grad_sum,
           CAST(CASE WHEN status = 'ok' THEN list_max(v) ELSE 0 END
             AS INTEGER) AS max_px
         FROM px ORDER BY doc_id""",
    // window-independent (t1, c, p) triple computed once; the sweep is
    // pure arithmetic over it — first-touch bindings don't move with W
    "events_funnel_sweep" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         s1 AS (SELECT user_id, min(tsu) AS t1 FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(tsu) AS c FROM ev e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND tsu > t1 GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(tsu) AS p FROM ev e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND tsu > c GROUP BY e.user_id),
         base AS (SELECT s1.user_id, t1, c.c AS c, p.p AS p
                  FROM s1 LEFT JOIN c USING (user_id)
                    LEFT JOIN p USING (user_id)),
         x AS (SELECT t1, c, p, unnest([6, 24, 48, 168]) AS window_hours
               FROM base),
         a AS (SELECT window_hours, count(*)::BIGINT AS n1,
             coalesce(sum(CASE WHEN c <= t1 + window_hours::BIGINT * 3600000000
               THEN 1 ELSE 0 END), 0)::BIGINT AS n2,
             coalesce(sum(CASE WHEN c <= t1 + window_hours::BIGINT * 3600000000
               AND p <= t1 + window_hours::BIGINT * 3600000000
               THEN 1 ELSE 0 END), 0)::BIGINT AS n3
           FROM x GROUP BY window_hours)
         SELECT CAST(window_hours AS INTEGER) AS window_hours, n1, n2, n3,
           CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000000) // n1 END AS conv2_ppm,
           CASE WHEN n1 = 0 THEN 0 ELSE (n3 * 1000000) // n1 END AS conv3_ppm
         FROM a ORDER BY window_hours""",
    // closed-form replay of the synthetic PCM rule: frame energies,
    // strict-sign-flip crossings, fixed activity gate — the imperative
    // parser and this SQL must agree to the bit
    "multimodal_audio_features" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 50 + 20 AS BIGINT) AS n,
             CASE WHEN doc_id % 11 = 3 THEN 'bad_magic'
                  WHEN doc_id % 11 = 7 THEN 'truncated'
                  ELSE 'ok' END AS status
           FROM documents),
         sm AS (SELECT doc_id, status, n,
             list_transform(range(0, n),
               k -> (doc_id * 131 + 17 * k) % 4001 - 2000) AS s FROM d),
         fe AS (SELECT doc_id, status, n, s,
             CAST(n // 16 AS INTEGER) AS nf,
             list_transform(range(0, n // 16),
               f -> list_sum(list_transform(range(0, 16),
                 j -> s[f*16 + j + 1] * s[f*16 + j + 1]))) AS es
           FROM sm)
         SELECT doc_id, status,
           CAST(CASE WHEN status = 'ok' THEN nf ELSE 0 END AS INTEGER)
             AS n_frames,
           CAST(CASE WHEN status = 'ok' THEN
               len(list_filter(range(0, n - 1), k -> s[k+1] * s[k+2] < 0))
             ELSE 0 END AS INTEGER) AS zero_crossings,
           CAST(CASE WHEN status = 'ok' THEN list_max(es) ELSE 0 END
             AS BIGINT) AS max_frame_energy,
           CAST(CASE WHEN status = 'ok' THEN
               len(list_filter(es, e -> e >= 21000000))
             ELSE 0 END AS INTEGER) AS n_active
         FROM fe ORDER BY doc_id""",
    "text_zipf_audit" ->
      """WITH wc AS (SELECT w, count(*)::BIGINT AS cnt FROM
             (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents) t
           WHERE w <> '' GROUP BY w),
         top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
               FROM (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 100)),
         xy AS (SELECT ln(rank::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM top),
         s AS (SELECT count(*)::BIGINT AS n_top,
             CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(round(y * 1e6) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(x * y * 1e6) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(sum(CAST(round(x * x * 1e6) AS BIGINT)) AS BIGINT) AS sxx
           FROM xy)
         SELECT n_top,
           CAST(((n_top * sxy - (sx * sy) // 1000000) * 1000000)
             // (n_top * sxx - (sx * sx) // 1000000) AS BIGINT) AS slope_u,
           CAST((sy - (((n_top * sxy - (sx * sy) // 1000000) * 1000000)
             // (n_top * sxx - (sx * sx) // 1000000) * sx) // 1000000)
             // n_top AS BIGINT) AS intercept_u
         FROM s""",
    // batch-equivalence: the twin drains the same histogram into the
    // shared cusumScore kernel
    "stream_cusum" -> qualityCusumOracleSql,
    // batch-equivalence: the streaming twin drains the same day
    // histogram and scores it with the shared kernel
    "stream_seasonal" -> tsSeasonalOracleSql,
    // the oracle keeps the naive quadratic dominance spelling the
    // bucketed-cummax plan must equal
    "q_pareto_skyline" ->
      """WITH p AS (SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dt
           FROM orders)
         SELECT k, price_c, dt FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.price_c <= a.price_c AND b.dt >= a.dt
             AND (b.price_c < a.price_c OR b.dt > a.dt))
         ORDER BY price_c, dt, k""",
    // streaming twin maintains the day histogram incrementally and scores
    // the drained state with the same kernel -> identical output, same oracle
    "stream_anomaly" -> qualityAnomalyOracleSql,
    // the card wraps the four audit oracles as CTEs VERBATIM — the report
    // cannot drift from the audits it summarizes
    "quality_report" ->
      s"""WITH ex AS ($qualityExpectationsOracleSql),
         dr AS ($qualityDriftPsiOracleSql),
         fr AS ($qualityFreshnessOracleSql),
         an AS ($qualityAnomalyOracleSql),
         r AS (
           SELECT 'expectations' AS section, 'n_failing_checks' AS metric,
             CAST(sum(CASE WHEN n_failed > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS value FROM ex
           UNION ALL SELECT 'expectations', 'total_failed_rows',
             CAST(sum(n_failed) AS DOUBLE) FROM ex
           UNION ALL SELECT 'drift', 'psi_total', psi FROM dr WHERE bucket = -1
           UNION ALL SELECT 'freshness', 'n_stale_types',
             CAST(sum(stale) AS DOUBLE) FROM fr
           UNION ALL SELECT 'freshness', 'max_lag_us',
             CAST(max(lag_us) AS DOUBLE) FROM fr
           UNION ALL SELECT 'anomaly', 'n_outlier_days',
             CAST(sum(outlier) AS DOUBLE) FROM an)
         SELECT section, metric, value FROM r ORDER BY section, metric""",
    // BM25 with k1=1.2, b=0.75; query terms = vocabulary ranks 10-12 by
    // (df DESC, token) — same tie-break and same double constants (1.2+1
    // and the literal 2.2 are the same IEEE double) on both sides
    "text_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
                       FROM documents),
         tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM tk GROUP BY doc_id, token),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM tk GROUP BY doc_id),
         dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM tk GROUP BY token),
         top12 AS (SELECT token, df FROM dfq ORDER BY df DESC, token LIMIT 12),
         qt AS (SELECT token, df FROM (SELECT token, df,
                  row_number() OVER (ORDER BY df DESC, token) AS r FROM top12)
                WHERE r >= 10),
         sc AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM documents),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS tot_toks FROM tk),
         scored AS (SELECT tf.token AS term, tf.doc_id, tf.tf, dl.dl,
             round(ln(1.0 + (sc.n_docs - qt.df + 0.5) / (qt.df + 0.5)) *
               (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl /
                 (CAST(tt.tot_toks AS DOUBLE) / sc.n_docs))), 6) AS score
           FROM tf JOIN qt ON tf.token = qt.token
           JOIN dl ON tf.doc_id = dl.doc_id
           CROSS JOIN sc CROSS JOIN tt),
         r AS (SELECT term, doc_id, tf, dl, score,
             row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id)
               AS rnk FROM scored)
         SELECT term, CAST(rnk AS INTEGER) AS rnk, doc_id, tf, dl, score
         FROM r WHERE rnk <= 10 ORDER BY term, rnk""",
    // same md5-derived bucket on both sides; both operands nonnegative so
    // pmod == %
    "text_hashing_trick" ->
      """SELECT doc_id,
           CAST((('0x' || substring(md5(token), 1, 8))::BIGINT % 64) AS INTEGER)
             AS feature,
           count(*)::BIGINT AS cnt
         FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
               FROM documents)
         WHERE token <> '' GROUP BY 1, 2 ORDER BY doc_id, feature""",
    // A-ES weighted sampling: same md5 coin, same ln(u)/w key rounded at
    // 1e-12, same (skey DESC, key) rank on both sides
    "sample_weighted" ->
      """WITH k AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
             round(ln((('0x' || substring(md5('ws|' || CAST(o_orderkey AS VARCHAR)),
                        1, 8))::BIGINT + 0.5) / 4294967296.0)
                   / o_totalprice, 12) AS skey
           FROM orders WHERE o_totalprice > 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY skey DESC, o_orderkey) AS rnk FROM k)
         SELECT o_orderpriority, CAST(rnk AS INTEGER) AS rnk, o_orderkey,
           o_totalprice, skey
         FROM r WHERE rnk <= 5 ORDER BY o_orderpriority, rnk""",
    "sim_random_projection" -> simRandomProjectionOracleSql,
    "sim_rp_recall" -> simRpRecallOracleSql,
    "sim_rp_rerank" -> simRpRerankOracleSql,
    "sim_rp_width_sweep" -> simRpWidthSweepOracleSql,
    // Prometheus-style histogram_quantile next to quantile_cont; error
    // columns compare the ROUNDED estimates so the audit arithmetic is
    // cross-engine exact
    "agg_histogram_quantile" -> {
      val arms = Seq(0.5, 0.95, 0.99).map { q =>
        s"""SELECT $q AS q,
            round(bucket * 5000.0 + ($q * t.n - below) / cnt * 5000.0, 4) AS est,
            (SELECT round(quantile_cont(o_totalprice, $q), 4) FROM orders)
              AS exact
          FROM c CROSS JOIN t
          WHERE below < $q * t.n AND $q * t.n <= below + cnt"""
      }.mkString(" UNION ALL ")
      s"""WITH h AS (SELECT CAST(least(floor(o_totalprice / 5000.0), 99.0)
               AS INTEGER) AS bucket, count(*)::BIGINT AS cnt
             FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
         c AS (SELECT bucket, cnt,
             sum(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS below
           FROM h),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
         r AS ($arms)
         SELECT q, est, exact, round(abs(est - exact), 4) AS abs_err,
           round(abs(est - exact) / exact, 6) AS rel_err
         FROM r ORDER BY q"""
    },
    "agg_histogram_quantile_grouped" -> {
      val arms = Seq(0.5, 0.95).map { q =>
        s"""SELECT c.prio, $q AS q,
            round(bucket * 5000.0 + ($q * t.n - below) / cnt * 5000.0, 4) AS est,
            (SELECT round(quantile_cont(o_totalprice, $q), 4) FROM orders
             WHERE o_orderpriority = c.prio) AS exact
          FROM c JOIN t ON c.prio = t.prio
          WHERE below < $q * t.n AND $q * t.n <= below + cnt"""
      }.mkString(" UNION ALL ")
      s"""WITH h AS (SELECT o_orderpriority AS prio,
             CAST(least(floor(o_totalprice / 5000.0), 99.0) AS INTEGER) AS bucket,
             count(*)::BIGINT AS cnt
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
         c AS (SELECT prio, bucket, cnt,
             sum(cnt) OVER (PARTITION BY prio ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS below
           FROM h),
         t AS (SELECT prio, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY prio),
         r AS ($arms)
         SELECT prio, q, est, exact, round(abs(est - exact), 4) AS abs_err
         FROM r ORDER BY prio, q"""
    },
    // batch-equivalence of the streaming validation counters: the slice
    // key is closed-form integer arithmetic on the row, so the final
    // complete-mode state is a plain GROUP BY replay
    "stream_quality" ->
      """WITH mm AS (SELECT min(event_id) AS lo,
             max(event_id) - min(event_id) + 1 AS span FROM events),
         q AS (SELECT CAST(((event_id - mm.lo) * 4) // mm.span AS INTEGER) AS qtr,
                 user_id, event_type, value
               FROM events CROSS JOIN mm)
         SELECT qtr, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS f_null_user,
           CAST(sum(CASE WHEN coalesce(event_type IN
               ('click','view','purchase','signup','error'), FALSE)
               THEN 0 ELSE 1 END) AS BIGINT) AS f_bad_type,
           CAST(sum(CASE WHEN value IS NULL OR value > 90.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS f_over_sla,
           CASE WHEN sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) +
                     sum(CASE WHEN coalesce(event_type IN
                       ('click','view','purchase','signup','error'), FALSE)
                       THEN 0 ELSE 1 END) = 0
                THEN 1 ELSE 0 END AS structural_pass
         FROM q GROUP BY qtr ORDER BY qtr""",
    "pipeline_unigram_lm" ->
      s"""$uniCtes
         SELECT 1 AS round, w, n, cost_u,
           CAST(len(str_split(seg, ' ')) AS INTEGER) AS n_pieces, seg FROM seg1
         UNION ALL
         SELECT 2, w, n, cost_u,
           CAST(len(str_split(seg, ' ')) AS INTEGER), seg FROM seg2
         ORDER BY round, w""",
    // same masked series, same two-neighbor lookup, same rounded-input
    // arithmetic in the same operation order — the interp double is
    // bit-identical before its round(4)
    "win_interpolate" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             round(value, 4) AS v_true,
             CASE WHEN event_id % 3 = 0 THEN round(value, 4) END AS v_sparse
           FROM events),
         w AS (SELECT *,
             last_value(v_sparse IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v_sparse IS NOT NULL THEN ts_us END
               IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(v_sparse IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v_sparse IS NOT NULL THEN ts_us END
               IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM b),
         i AS (SELECT user_id, event_id, v_sparse, v_true,
             round(CASE WHEN v_sparse IS NOT NULL THEN v_sparse
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   WHEN nt = pt THEN pv
                   ELSE pv + (nv - pv) *
                     (CAST(ts_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                   END, 4) AS v_interp
           FROM w)
         SELECT user_id, event_id, v_sparse, v_interp,
           round(abs(v_interp - v_true), 4) AS abs_err
         FROM i ORDER BY user_id, event_id""",
    "pipeline_unigram_apply" ->
      s"""$uniCtes,
         v AS (SELECT w, CAST(len(str_split(seg, ' ')) AS BIGINT) AS n_pc
               FROM seg2),
         d AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
         SELECT doc_id, count(*) AS n_ws, CAST(sum(n_pc) AS BIGINT) AS n_uni
         FROM d JOIN v USING (w) WHERE len(w) > 0
         GROUP BY doc_id ORDER BY doc_id""",
    "pipeline_unigram_fertility" ->
      s"""$uniCtes,
         v AS (SELECT w, CAST(len(str_split(seg, ' ')) AS BIGINT) AS n_pc
               FROM seg2),
         d AS (SELECT lang, unnest(str_split(text, ' ')) AS w FROM documents)
         SELECT lang, count(*) AS n_ws, CAST(sum(n_pc) AS BIGINT) AS n_uni,
           round(CAST(sum(n_pc) AS DOUBLE) / count(*), 6) AS fertility
         FROM d JOIN v USING (w) WHERE len(w) > 0
         GROUP BY lang ORDER BY lang""",
    // replay the gate's LOGIC (per-batch bad count decides the route),
    // never its outcome — the planted corruption is the same closed form
    "sink_quality_gate" ->
      """WITH mm AS (SELECT min(event_id) AS lo,
             max(event_id) - min(event_id) + 1 AS span FROM events),
         q AS (SELECT CAST(((event_id - mm.lo) * 4) // mm.span AS INTEGER)
                 AS batch_qtr,
               event_id, user_id, event_type, value
               FROM events CROSS JOIN mm),
         b AS (SELECT batch_qtr, event_id, event_type, value,
               CASE WHEN batch_qtr = 2 AND event_id % 10 = 0 THEN NULL
                    ELSE user_id END AS user_id
               FROM q),
         r AS (SELECT batch_qtr,
               CASE WHEN sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) +
                         sum(CASE WHEN coalesce(event_type IN
                           ('click','view','purchase','signup','error'), FALSE)
                           THEN 0 ELSE 1 END) = 0
                    THEN 'clean' ELSE 'quarantine' END AS tbl
               FROM b GROUP BY batch_qtr)
         SELECT r.tbl, b.batch_qtr, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_user,
           round(sum(b.value), 2) AS sum_value
         FROM b JOIN r USING (batch_qtr)
         GROUP BY r.tbl, b.batch_qtr ORDER BY r.tbl, b.batch_qtr""",
  )

  /** DuckDB literal for one row of the JL sign matrix — the matrix is
    * plan-time model state shared verbatim by both engines.
    */
  private def rpArrayLit(j: Int): String =
    operators.SimOps.rpSigns(j).map(x => if (x > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  private val simRandomProjectionOracleSql: String = {
    val arms = (0 until 8).map(j =>
      s"SELECT vec_id, $j AS dim, round(list_dot_product(v, ${rpArrayLit(j)}), 6) AS value FROM e")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        $arms ORDER BY vec_id, dim"""
  }

  private val simRpRerankOracleSql: String = {
    val pList = (0 until 8)
      .map(j => s"round(list_dot_product(v, ${rpArrayLit(j)}), 6)")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       p AS (SELECT vec_id, $pList AS pv FROM e),
       pp AS (SELECT vec_id AS probe_id, pv AS qp FROM p WHERE vec_id % 100 = 0),
       cand AS (SELECT probe_id, vec_id, cos_p FROM (
         SELECT pp.probe_id, p.vec_id,
           round(list_dot_product(p.pv, pp.qp) /
             (sqrt(list_dot_product(p.pv, p.pv)) *
              sqrt(list_dot_product(pp.qp, pp.qp))), 6) AS cos_p,
           row_number() OVER (PARTITION BY pp.probe_id
             ORDER BY round(list_dot_product(p.pv, pp.qp) /
               (sqrt(list_dot_product(p.pv, p.pv)) *
                sqrt(list_dot_product(pp.qp, pp.qp))), 6) DESC, p.vec_id) AS rn
         FROM p CROSS JOIN pp WHERE p.vec_id <> pp.probe_id) t WHERE rn <= 20),
       pe AS (SELECT vec_id AS probe_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       rr AS (SELECT cand.probe_id, cand.vec_id, cand.cos_p,
           round(list_dot_product(e.v, pe.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(pe.qv, pe.qv))), 6) AS cos,
           row_number() OVER (PARTITION BY cand.probe_id
             ORDER BY round(list_dot_product(e.v, pe.qv) /
               (sqrt(list_dot_product(e.v, e.v)) *
                sqrt(list_dot_product(pe.qv, pe.qv))), 6) DESC, cand.vec_id)
             AS rnk
         FROM cand JOIN e ON cand.vec_id = e.vec_id
         JOIN pe ON cand.probe_id = pe.probe_id)
       SELECT probe_id, CAST(rnk AS INTEGER) AS rnk, vec_id, cos_p, cos
       FROM rr WHERE rnk <= 5 ORDER BY probe_id, rnk"""
  }

  /** DuckDB sketch list at the given width — nested prefixes of the
    * 16-row sign matrix, matching SimOps.rpSketch.
    */
  private def rpPList(width: Int): String =
    (0 until width)
      .map(j => s"round(list_dot_product(v, ${rpArrayLit(j)}), 6)")
      .mkString("[", ", ", "]")

  /** Shared planted-corpus + exact-arm CTEs of the projection audits. */
  private val rpAuditCtes: String =
    s"""b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       pl AS (SELECT vec_id + 1000000 AS vec_id,
           [CASE WHEN i = 33 THEN 0.0 ELSE v[i] END FOR i IN range(1, 65)] AS v
         FROM b WHERE vec_id % 100 = 0),
       e AS (SELECT * FROM b UNION ALL SELECT * FROM pl),
       pe AS (SELECT vec_id AS probe_id, v AS qv FROM e
              WHERE vec_id % 100 = 0 AND vec_id < 1000000),
       et AS (SELECT probe_id, vec_id FROM (
         SELECT pe.probe_id, e.vec_id, row_number() OVER (PARTITION BY pe.probe_id
             ORDER BY round(list_dot_product(e.v, pe.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pe.qv, pe.qv))), 6)
               DESC, e.vec_id) AS rn
         FROM e CROSS JOIN pe WHERE e.vec_id <> pe.probe_id) WHERE rn <= 10)"""

  /** The projected-arm top-10 table at the given width, as a subquery. */
  private def rpProjTopSql(width: Int): String =
    s"""(SELECT probe_id, vec_id FROM (
         SELECT pp.probe_id, p.vec_id, row_number() OVER (PARTITION BY pp.probe_id
             ORDER BY round(list_dot_product(p.pv, pp.qp) /
               (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(pp.qp, pp.qp))), 6)
               DESC, p.vec_id) AS rn
         FROM (SELECT vec_id, ${rpPList(width)} AS pv FROM e) p
         CROSS JOIN (SELECT vec_id AS probe_id, ${rpPList(width)} AS qp FROM e
                     WHERE vec_id % 100 = 0 AND vec_id < 1000000) pp
         WHERE p.vec_id <> pp.probe_id) t WHERE rn <= 10)"""

  private val simRpRecallOracleSql: String =
    s"""WITH $rpAuditCtes,
       pt AS (SELECT * FROM ${rpProjTopSql(8)} t0)
       SELECT et.probe_id, CAST(count(*) AS BIGINT) AS n_exact,
         CAST(sum(CASE WHEN pt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overlap,
         CAST(max(CASE WHEN et.vec_id = et.probe_id + 1000000
               AND pt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS planted_found
       FROM et LEFT JOIN pt
         ON et.probe_id = pt.probe_id AND et.vec_id = pt.vec_id
       GROUP BY et.probe_id ORDER BY et.probe_id"""

  private val simRpWidthSweepOracleSql: String = {
    val arms = Seq(4, 8, 16).map { w =>
      s"""SELECT $w AS width, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN pt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_overlap,
          CAST(sum(CASE WHEN et.vec_id = et.probe_id + 1000000
                AND pt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_planted_found
        FROM et LEFT JOIN ${rpProjTopSql(w)} pt
          ON et.probe_id = pt.probe_id AND et.vec_id = pt.vec_id"""
    }.mkString(" UNION ALL ")
    s"""WITH $rpAuditCtes $arms ORDER BY width"""
  }

  /** The k-means oracle CTE chain, generated: k0 is the first-k codebook
    * in the milli-unit integer domain, each round is one assign CTE (exact
    * integer L2², first-cid tie-break — DuckDB's (dist, cid) row_number
    * ≡ Spark's first-index argmin over the cid-sorted codebook) and one
    * update CTE (floor(sum/count) per dimension, empty cells inherit).
    * Everything is integer-exact, so the chain replicates the engine
    * bit-for-bit regardless of partitioning or summation order.
    */
  /** `trainWhere` (r10): when non-empty, the Lloyd chain (seeds + per-
    * round assignments) trains only on `eq WHERE trainWhere`, while the
    * final assignment `kaf` still covers ALL of eq — the frozen-corpus-
    * codebook shape the incremental kNN-graph maintainer runs. Empty
    * string reproduces the original SQL byte-for-byte.
    */
  /** `px` (r10): a name prefix applied to EVERY CTE this chain emits
    * (eq/eqt/k0/ka·/ku·/k·/kaf), so two independently-trained chains —
    * e.g. the frozen-corpus codebook vs the refreshed full-corpus one —
    * can coexist in a single WITH clause for drift-audit oracles.
    * Empty prefix reproduces the established names.
    */
  /** The planted near-dup corpus — SQL twin of `SimOps.plantNearDups`
    * (see its Scaladoc): every vec_id % 100 == 7 vector copied to
    * vec_id + 1e6 with 1-based dimension 33 zeroed, all in FLOAT so the
    * engine-side float→double widening is replayed bit-exactly.
    */
  private val plantedEmbSrc =
    """(SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               [CASE WHEN i = 33 THEN CAST(0.0 AS FLOAT) ELSE embedding[i] END
                FOR i IN range(1, 65)] AS embedding
        FROM embeddings WHERE vec_id % 100 = 7)"""

  private def kmeansCte(k: Int, rounds: Int, dim: Int,
      trainWhere: String = "", px: String = "",
      src: String = "embeddings"): String = {
    val trainSrc = if (trainWhere.isEmpty) s"${px}eq" else s"${px}eqt"
    def assign(name: String, cents: String, src: String = s"${px}eq") =
      s"""$name AS MATERIALIZED (SELECT vec_id, xq, cid AS cell FROM (
           SELECT $src.vec_id, $src.xq, c.cid, row_number() OVER (PARTITION BY $src.vec_id
             ORDER BY list_sum([($src.xq[i] - c.cvec[i]) * ($src.xq[i] - c.cvec[i])
                                FOR i IN range(1, ${dim + 1})]), c.cid) AS rn
           FROM $src CROSS JOIN $cents c) WHERE rn = 1)"""
    val steps = (1 to rounds).map { r =>
      s""",
         ${assign(s"${px}ka$r", s"${px}k${r - 1}", trainSrc)},
         ${px}ku$r AS MATERIALIZED (SELECT cell, t.i AS i,
                  CAST(floor(sum(xq[t.i])::DOUBLE / count(*)) AS BIGINT) AS cq
                FROM ${px}ka$r CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) t
                GROUP BY cell, t.i),
         ${px}k$r AS MATERIALIZED (SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec FROM ${px}k${r - 1} p
                 LEFT JOIN (SELECT cell AS cid, list(cq ORDER BY i) AS cvec
                            FROM ${px}ku$r GROUP BY cell) u USING (cid))"""
    }.mkString
    val eqt =
      if (trainWhere.isEmpty) ""
      else s""",
         ${px}eqt AS MATERIALIZED (SELECT vec_id, xq FROM ${px}eq WHERE $trainWhere)"""
    s"""${px}eq AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 1000) AS BIGINT)) AS xq FROM $src)$eqt,
         ${px}k0 AS MATERIALIZED (SELECT CAST(vec_id AS INTEGER) AS cid, xq AS cvec
                FROM $trainSrc WHERE vec_id < $k)$steps,
         ${assign(s"${px}kaf", s"${px}k$rounds")}"""
  }

  /** Shared CTE chain for the kNN-graph entries: the unrolled integer
    * Lloyd loop (`kmeansCte`) + nearest-cell corpus assignment (kaf) +
    * nprobe-nearest probe cells per source + within-cell cosine
    * candidates, SYMMETRIZED (cosine is symmetric, so each forward
    * candidate also serves the reverse src) + per-src top-3 — the exact
    * replica of `SimOps.simKnnGraph(k = 3, nprobe = 8)` (2 Lloyd rounds
    * — recall is flat in codebook convergence at this nprobe); the
    * UNION's set-dedupe matches the engine's distinct-before-final-cut.
    */
  private def knnGraphCte: String = knnGraphCteT("")

  /** `trainWhere` ≠ "" trains the Lloyd chain on that subset (frozen
    * corpus codebook) while assignment/probing/candidates still cover
    * every vector — the incremental maintainer's batch-equivalent.
    */
  private def knnGraphCteT(trainWhere: String): String =
    knnGraphCteP(trainWhere, "")

  /** Like `knnGraphCteT` but with every CTE name prefixed by `px`
    * (r10), so two graphs built under DIFFERENT codebooks can be
    * FULL-JOINed in one oracle query (the refresh drift audit). The
    * graph table is `${px}g`.
    */
  private def knnGraphCteP(trainWhere: String, px: String): String =
    s"""${kmeansCte(16, 2, 64, trainWhere, px)},
         ${px}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${px}asn AS (SELECT a.vec_id, e.v, a.cell FROM ${px}kaf a JOIN ${px}e e USING (vec_id)),
         ${px}pr AS (SELECT vec_id, cell FROM (
             SELECT eq.vec_id, c.cid AS cell, row_number() OVER (PARTITION BY eq.vec_id
               ORDER BY list_sum([(eq.xq[i] - c.cvec[i]) * (eq.xq[i] - c.cvec[i])
                                  FOR i IN range(1, 65)]), c.cid) AS rn
             FROM ${px}eq eq CROSS JOIN ${px}k2 c) WHERE rn <= 8),
         ${px}probes AS (SELECT pr.vec_id AS src, e.v AS sv, pr.cell
           FROM ${px}pr pr JOIN ${px}e e ON pr.vec_id = e.vec_id),
         ${px}cand AS (SELECT p.src, a.vec_id AS dst,
             round(list_dot_product(a.v, p.sv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(p.sv, p.sv))), 6) AS cos
           FROM ${px}asn a JOIN ${px}probes p USING (cell)
           WHERE a.vec_id <> p.src),
         ${px}cs AS (SELECT src, dst, cos FROM ${px}cand
                UNION
                SELECT dst AS src, src AS dst, cos FROM ${px}cand),
         ${px}f AS (SELECT src, dst, cos, row_number() OVER
             (PARTITION BY src ORDER BY cos DESC, dst) AS rn
           FROM ${px}cs WHERE cos >= 0.3),
         ${px}g AS (SELECT src, dst, cos FROM ${px}f WHERE rn <= 3)"""

  /** SemDeDup cluster oracle: the shared kNN-graph CTE chain, edges cut
    * at `minCos`, symmetrized (UNION set-dedupe), then `rounds` unrolled
    * synchronous min-label hops — MATERIALIZED per hop (the components-
    * oracle lesson: DuckDB inlines plain CTEs and a step referenced twice
    * re-executes its whole upstream chain). Isolated nodes keep their own
    * label via LEFT JOIN + coalesce, matching the engine loop.
    */
  private def knnClusterOracleSql(minCos: Double, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""",
         c$r AS MATERIALIZED (SELECT l.id,
               least(l.label, coalesce(m.nbr, l.label)) AS label
             FROM c${r - 1} l LEFT JOIN (
               SELECT el.dst AS nid, min(l2.label) AS nbr
               FROM el JOIN c${r - 1} l2 ON el.src = l2.id GROUP BY el.dst) m
               ON l.id = m.nid)"""
    }.mkString
    s"""WITH $knnGraphCte,
         ge AS (SELECT src, dst FROM g WHERE cos >= $minCos),
         el AS (SELECT src, dst FROM ge
                UNION SELECT dst AS src, src AS dst FROM ge),
         c0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS label FROM e)$steps
         SELECT label AS cluster, count(*) AS n_members, max(id) AS max_member
         FROM c$rounds GROUP BY label HAVING count(*) >= 2 ORDER BY cluster"""
  }

  /** The trained quality-classifier scoring chain (3 unrolled GD rounds,
    * the algebraic sigmoid, micro-unit gradients) ending in
    * `scored(doc_id, score, pred_en, is_en)` — shared by the classifier
    * entry and the calibration audit so the audit replays EXACTLY the
    * model it audits.
    */
  private val classifierScoredCtes: String = {
    def round_(i: Int): String =
      s"""p$i AS (SELECT x1, x2, y,
              0.5 + (a + b * x1 + c * x2) /
                (2.0 * (1.0 + abs(a + b * x1 + c * x2))) AS sig
            FROM f, w${i - 1}),
         g$i AS (SELECT
              sum(round((sig - y) * 1e6)::BIGINT) AS s0,
              sum(round((sig - y) * x1 * 1e6)::BIGINT) AS s1,
              sum(round((sig - y) * x2 * 1e6)::BIGINT) AS s2,
              count(*) AS n
            FROM p$i),
         w$i AS (SELECT a - 0.5 * (s0 / 1000000.0) / n AS a,
                        b - 0.5 * (s1 / 1000000.0) / n AS b,
                        c - 0.5 * (s2 / 1000000.0) / n AS c
                 FROM w${i - 1}, g$i)"""
    s"""f AS (SELECT doc_id,
              length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                / length(text) AS x1,
              len(list_intersect(list_distinct(str_split(text, ' ')),
                  ['the','and','of','to','in','a','is','it']))::DOUBLE / 8.0 AS x2,
              CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM documents),
         w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c),
         ${round_(1)},
         ${round_(2)},
         ${round_(3)},
         scored AS (SELECT doc_id, round(sig, 6) AS score, sig >= 0.5 AS pred_en,
             y = 1.0 AS is_en
           FROM (SELECT doc_id, y,
                   0.5 + (a + b * x1 + c * x2) /
                     (2.0 * (1.0 + abs(a + b * x1 + c * x2))) AS sig
                 FROM f, w3))"""
  }

  /** Exact-integer PCA power-iteration chain — the DuckDB replica of
    * SimOps.pcaComponent (scatter matrix → ×10⁶ rescale → matvec rounds →
    * sign flip). 1-based list indices internally; the per-entry SELECTs
    * re-base to the Spark side's 0-based dim_idx.
    */
  private def pcaCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val pv = s"v${r - 1}"
      s""",
         w$r AS (SELECT mm.i AS i, CAST(sum(mm.m * $pv.v) AS BIGINT) AS w
                 FROM mm JOIN $pv ON mm.j = $pv.i GROUP BY mm.i),
         d$r AS (SELECT max(abs(w)) // 1000000 + 1 AS d FROM w$r),
         v$r AS (SELECT i, CAST(CASE WHEN w < 0 THEN -(abs(w) // d$r.d)
                                ELSE w // d$r.d END AS BIGINT) AS v
                 FROM w$r CROSS JOIN d$r)"""
    }.mkString
    s"""eq AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 1000) AS BIGINT)) AS xq FROM embeddings),
         nn AS (SELECT count(*)::BIGINT AS n FROM eq),
         dims AS (SELECT unnest(range(1, 65)) AS i),
         s1 AS MATERIALIZED (SELECT dims.i AS i,
                  CAST(sum(xq[dims.i]) AS BIGINT) AS sx
                FROM eq CROSS JOIN dims GROUP BY dims.i),
         s2 AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                  CAST(sum(xq[a.i] * xq[b.i]) AS BIGINT) AS s2
                FROM eq CROSS JOIN dims a CROSS JOIN dims b GROUP BY a.i, b.i),
         m0 AS (SELECT s2.i, s2.j, nn.n * s2.s2 - sa.sx * sb.sx AS bigm
                FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i
                CROSS JOIN nn),
         msc AS (SELECT max(abs(bigm)) // 1000000 + 1 AS d FROM m0),
         mm AS MATERIALIZED (SELECT i, j, CAST(CASE WHEN bigm < 0
                  THEN -(abs(bigm) // msc.d) ELSE bigm // msc.d END AS BIGINT) AS m
                FROM m0 CROSS JOIN msc),
         v0 AS (SELECT i, CAST(1000000 - (i - 1) * 1000 AS BIGINT) AS v
                FROM dims)$steps,
         lead_ AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS flip
                   FROM v$rounds ORDER BY abs(v) DESC, i LIMIT 1),
         vf AS MATERIALIZED (SELECT i, CAST(v * lead_.flip AS BIGINT) AS v
                FROM v$rounds CROSS JOIN lead_)"""
  }

  /** The deflated second-component chain — appended after pcaCtes; each
    * round renormalizes the matvec then subtracts the integer-quantized
    * projection onto the first component (signed // ≡ Spark DIV).
    */
  private def pca2Ctes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""",
         w2_$r AS MATERIALIZED (SELECT mm.i AS i,
                   CAST(sum(mm.m * u2_${r - 1}.v) AS BIGINT) AS w
                 FROM mm JOIN u2_${r - 1} ON mm.j = u2_${r - 1}.i GROUP BY mm.i),
         e2_$r AS (SELECT max(abs(w)) // 1000000 + 1 AS d FROM w2_$r),
         p2_$r AS MATERIALIZED (SELECT i,
                   CAST(CASE WHEN w < 0 THEN -(abs(w) // e2_$r.d)
                                ELSE w // e2_$r.d END AS BIGINT) AS v
                 FROM w2_$r CROSS JOIN e2_$r),
         q2_$r AS (SELECT CAST(t.r // denk.denk AS BIGINT) AS q
                 FROM (SELECT CAST(sum(p.v * vf.v) AS BIGINT) AS r
                       FROM p2_$r p JOIN vf ON p.i = vf.i) t CROSS JOIN denk),
         u2_$r AS MATERIALIZED (SELECT p.i,
                   CAST(p.v - (q2_$r.q * vf.v) // 1000000 AS BIGINT) AS v
                 FROM p2_$r p JOIN vf ON p.i = vf.i CROSS JOIN q2_$r)"""
    }.mkString
    s"""denk AS (SELECT CAST(sum(v * v) AS BIGINT) // 1000000 + 1 AS denk FROM vf),
         u2_0 AS (SELECT i,
                CAST(1000000 - ((i - 1) * 7919) % 64 * 1000 AS BIGINT) AS v
              FROM dims)$steps,
         lead2_ AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS flip
                   FROM u2_$rounds ORDER BY abs(v) DESC, i LIMIT 1),
         vf2 AS (SELECT i, CAST(v * lead2_.flip AS BIGINT) AS v
                FROM u2_$rounds CROSS JOIN lead2_)"""
  }

  private val pcaTrainOracleSql: String =
    s"""WITH ${pcaCtes(8)}
         SELECT CAST(i - 1 AS INTEGER) AS dim_idx, v AS loading_u
         FROM vf ORDER BY dim_idx"""

  private val pcaProjectOracleSql: String =
    s"""WITH ${pcaCtes(8)},
         varr AS (SELECT list(v ORDER BY i) AS vv FROM vf),
         sc AS MATERIALIZED (SELECT vec_id,
             CAST(list_sum([xq[k] * vv[k] FOR k IN range(1, 65)]) AS BIGINT)
               AS score_u
           FROM eq CROSS JOIN varr),
         bnd AS (SELECT min(score_u) AS lo, max(score_u) AS hi FROM sc)
         SELECT CAST(least((score_u - lo) * 10 // (hi - lo + 1), 9) AS BIGINT)
             AS bucket,
           count(*) AS n_vecs, min(score_u) AS lo_u, max(score_u) AS hi_u
         FROM sc CROSS JOIN bnd GROUP BY 1 ORDER BY 1"""

  private val pcaExplainedOracleSql: String =
    s"""WITH ${pcaCtes(8)},
         vk AS (SELECT i, CAST(CASE WHEN v < 0 THEN -(abs(v) // 1000)
                                    ELSE v // 1000 END AS BIGINT) AS vk FROM vf),
         nm AS (SELECT CAST(sum(a.vk * mm.m * b.vk) AS BIGINT) AS num
                FROM mm JOIN vk a ON mm.i = a.i JOIN vk b ON mm.j = b.i),
         dn AS (SELECT CAST(sum(vk * vk) AS BIGINT) AS den FROM vk),
         tr AS (SELECT CAST(sum(m) AS BIGINT) AS tr FROM mm WHERE i = j),
         res AS (SELECT num // den AS rayleigh_scaled, tr.tr AS trace_scaled,
                   ((num // den) * 1000000) // tr.tr AS explained_ratio_u
                 FROM nm CROSS JOIN dn CROSS JOIN tr)
         SELECT 'explained_ratio_u' AS metric, explained_ratio_u AS value FROM res
         UNION ALL SELECT 'rayleigh_scaled', rayleigh_scaled FROM res
         UNION ALL SELECT 'trace_scaled', trace_scaled FROM res
         ORDER BY metric"""

  private def kmeansOracleSql(k: Int, rounds: Int, dim: Int): String =
    s"""WITH ${kmeansCte(k, rounds, dim)}
         SELECT c.cid, CAST(coalesce(n.n_assigned, 0) AS BIGINT) AS n_assigned,
           c.cvec[1] AS c0, c.cvec[2] AS c1
         FROM k$rounds c LEFT JOIN (SELECT cell AS cid, count(*) AS n_assigned
                                    FROM kaf GROUP BY cell) n USING (cid)
         ORDER BY cid"""

  /** Per-subspace Lloyd chain for PQ: one subvector table, one assign +
    * one update CTE per round over the compact (s, cell) keys — the exact
    * integer replica of `SimOps.pqCodebooks`.
    */
  private def pqKmeansCte(s: Int, d: Int, k: Int, rounds: Int): String = {
    def assign(name: String, cents: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, s, sub, cid AS cell FROM (
           SELECT subs.vec_id, subs.s, subs.sub, c.cid,
             row_number() OVER (PARTITION BY subs.vec_id, subs.s
               ORDER BY list_sum([(subs.sub[i] - c.cvec[i]) * (subs.sub[i] - c.cvec[i])
                                  FOR i IN range(1, ${d + 1})]), c.cid) AS rn
           FROM subs JOIN $cents c ON subs.s = c.s) WHERE rn = 1)"""
    val steps = (1 to rounds).map { r =>
      s""",
         ${assign(s"pa$r", s"p${r - 1}")},
         pu$r AS MATERIALIZED (SELECT s, cell, t.i AS i,
                  CAST(floor(sum(sub[t.i])::DOUBLE / count(*)) AS BIGINT) AS cq
                FROM pa$r CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) t
                GROUP BY s, cell, t.i),
         p$r AS MATERIALIZED (SELECT p.s, p.cid, coalesce(u.cvec, p.cvec) AS cvec FROM p${r - 1} p
                 LEFT JOIN (SELECT s, cell AS cid, list(cq ORDER BY i) AS cvec
                            FROM pu$r GROUP BY s, cell) u
                   ON p.s = u.s AND p.cid = u.cid)"""
    }.mkString
    s"""eq AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 1000) AS BIGINT)) AS xq FROM embeddings),
         subs AS MATERIALIZED (SELECT vec_id, t.s AS s, xq[t.s*$d+1 : t.s*$d+$d] AS sub
                  FROM eq CROSS JOIN (SELECT unnest(range(0, $s)) AS s) t),
         p0 AS MATERIALIZED (SELECT s, CAST(vec_id AS INTEGER) AS cid, sub AS cvec
                FROM subs WHERE vec_id < $k)$steps"""
  }

  private def pqKmeansOracleSql(s: Int, d: Int, k: Int, rounds: Int): String =
    s"""WITH ${pqKmeansCte(s, d, k, rounds)},
         cbs AS (SELECT s, list(list_transform(cvec, x -> x / 1000.0) ORDER BY cid)
                   AS cents
                 FROM p$rounds GROUP BY s),
         cb AS (SELECT list(cents ORDER BY s) AS cbs FROM cbs),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (SELECT vec_id, v,
           [[ list_sum([ (v[sp*$d+i] - c[i]) * (v[sp*$d+i] - c[i])
                         FOR i IN range(1, ${d + 1}) ])
              FOR c IN cbs[sp+1] ] FOR sp IN range(0, $s)] AS st
           FROM e CROSS JOIN cb),
         enc AS (SELECT vec_id, v,
                   [ list_position(sc, list_min(sc)) FOR sc IN st ] AS codes
                 FROM scored),
         qt AS (SELECT st AS dt, v AS qv FROM scored WHERE vec_id = 0)
         SELECT enc.vec_id,
           round(list_sum([ dt[sp][codes[sp]] FOR sp IN range(1, ${s + 1}) ]), 6)
             AS adc_dist,
           round(list_dot_product(enc.v, qv) /
             (sqrt(list_dot_product(enc.v, enc.v)) * sqrt(list_dot_product(qv, qv))), 6)
             AS cos_exact
         FROM enc CROSS JOIN qt
         ORDER BY adc_dist ASC, vec_id LIMIT 10"""

  private def ivfKmeansOracleSql(k: Int, rounds: Int, dim: Int): String =
    s"""WITH ${kmeansCte(k, rounds, dim)},
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cl AS (SELECT CAST(cid AS BIGINT) AS cid,
                  list_transform(cvec, x -> x / 1000.0) AS cv FROM k$rounds),
         a AS (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
                 ORDER BY round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 9)
                   DESC, cid) AS rn
               FROM e CROSS JOIN cl),
         asn AS (SELECT vec_id, v, cid AS cell FROM a WHERE rn = 1),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         p AS (SELECT cid AS cell FROM cl CROSS JOIN q
               ORDER BY round(list_dot_product(cv, qv) /
                 (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 9)
                 DESC, cid LIMIT 4)
         SELECT vec_id, round(list_dot_product(v, qv) /
           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
         FROM asn JOIN p USING(cell) CROSS JOIN q
         ORDER BY cos DESC, vec_id LIMIT 10"""

  /** The components oracle, generated like the pagerank one: l0 is the
    * identity labeling, each CTE is one synchronous min-propagation hop
    * (min over in-neighbor labels, floored by the node's own).
    */
  // Every step CTE is MATERIALIZED: DuckDB inlines plain CTEs, and a
  // step that references its predecessor TWICE (the min-label join +
  // the neighbor subquery) re-executes the whole upstream chain per
  // reference — 2^rounds evaluations of the base join, which exhausts
  // DuckDB's temp spill at sf0.1 (observed round 7). Materialization
  // makes the chain linear; results are identical by definition.
  /** The components CONVERGENCE oracle: the fixed-round chain unrolled
    * to `maxRounds` with a per-round change-count CTE beside each hop;
    * the exit round is derived IN SQL (min round with zero changes) and
    * the census reads the `maxRounds` table — equal to the exit-round
    * table because the min-label fixpoint is invariant under further
    * hops. Change counts are exact integers, so the exit round can
    * never diverge between engines.
    */
  private def componentsConvOracleSql(maxRounds: Int): String = {
    val steps = (1 to maxRounds).map { i =>
      s""",
         l$i AS MATERIALIZED (SELECT l.id, least(l.label, nb.nbr) AS label
                 FROM l${i - 1} l JOIN
                   (SELECT e.dst AS id, min(lp.label) AS nbr
                    FROM edges e JOIN l${i - 1} lp ON lp.id = e.src
                    GROUP BY e.dst) nb USING (id)),
         c$i AS MATERIALIZED (SELECT count(*) AS chg
                 FROM l$i a JOIN l${i - 1} b USING (id)
                 WHERE a.label <> b.label)"""
    }.mkString
    val rr = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, (SELECT chg FROM c$i) AS chg")
      .mkString(" UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)$steps,
         rr AS ($rr),
         ex AS (SELECT CAST(min(r) AS BIGINT) AS er FROM rr WHERE chg = 0)
         SELECT label AS component, count(*) AS n_nodes, min(id) AS min_node,
           (SELECT er FROM ex) AS exit_round
         FROM l$maxRounds GROUP BY label ORDER BY component"""
  }

  /** The pagerank CONVERGENCE oracle: per-round rank CTEs RE-QUANTIZED
    * to 9 decimals (mirroring the engine loop), a per-round L1-residual
    * CTE beside each, the exit round derived in SQL as the first round
    * whose residual drops below `tol`, and THAT round's ranks selected
    * from the union of all rounds — the early-exit dynamics themselves
    * are what the oracle checks.
    */
  private def pagerankConvOracleSql(maxRounds: Int, tol: Double): String = {
    val steps = (1 to maxRounds).map { i =>
      s""",
         r$i AS MATERIALIZED (SELECT nodes.id,
                 round(0.15 / nn.n + 0.85 * coalesce(s.c, 0), 9) AS rank
                 FROM nodes CROSS JOIN nn
                 LEFT JOIN (SELECT e.dst AS id, sum(r.rank / d.outdeg) AS c
                            FROM edges e JOIN r${i - 1} r ON r.id = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) s ON s.id = nodes.id),
         d$i AS MATERIALIZED (SELECT round(sum(abs(a.rank - b.rank)), 9) AS delta
                 FROM r$i a JOIN r${i - 1} b USING (id))"""
    }.mkString
    val rr = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, (SELECT delta FROM d$i) AS delta")
      .mkString(" UNION ALL ")
    val allR = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, id, rank FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)$steps,
         rr AS ($rr),
         ex AS (SELECT CAST(min(r) AS BIGINT) AS er FROM rr WHERE delta < $tol),
         allr AS ($allR)
         SELECT id AS node_id, round(rank, 6) AS pr,
           (SELECT er FROM ex) AS exit_round
         FROM allr WHERE r = (SELECT er FROM ex)
         ORDER BY pr DESC, node_id LIMIT 100"""
  }

  private def componentsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (SELECT l.id, least(l.label, nb.nbr) AS label
                 FROM l${i - 1} l JOIN
                   (SELECT e.dst AS id, min(lp.label) AS nbr
                    FROM edges e JOIN l${i - 1} lp ON lp.id = e.src
                    GROUP BY e.dst) nb USING (id))"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)$steps
         SELECT label AS component, count(*) AS n_nodes, min(id) AS min_node
         FROM l$rounds GROUP BY label ORDER BY component"""
  }

  /** The label-propagation oracle: each round is the grouped in-neighbor
    * label count topped by row_number (count DESC, label ASC) — the mode
    * with smallest-label tie-break GraphOps.graphLabelProp encodes as
    * max(struct(c, -label)).
    */
  /** The shared LPA CTE chain (edges + unrolled mode-vote rounds),
    * consumed by the census oracle and the modularity oracle.
    */
  private def lpaCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (SELECT id, nl AS label FROM (
                 SELECT e.dst AS id, lp.label AS nl,
                        row_number() OVER (PARTITION BY e.dst
                          ORDER BY count(*) DESC, lp.label ASC) AS rn
                 FROM edges e JOIN l${i - 1} lp ON lp.id = e.src
                 GROUP BY e.dst, lp.label) v WHERE rn = 1)"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)$steps"""
  }

  private def labelPropOracleSql(rounds: Int): String =
    s"""${lpaCtes(rounds)}
         SELECT label AS community, count(*) AS n_nodes, min(id) AS min_node
         FROM l$rounds GROUP BY label ORDER BY community"""

  /** The LPA CONVERGENCE oracle: the same unrolled vote CTEs, a
    * per-round labels(i)≠labels(i−2) count beside each (synchronous LPA
    * on the bipartite trade graph settles into a period-2 ORBIT, never
    * a fixpoint — GraphOps.graphLabelPropConv), the exit round derived
    * in SQL as the first zero, and the census taken over the EXIT
    * round's labels selected from the union of all rounds — the
    * early-exit dynamics themselves are what's checked.
    */
  private def labelPropConvOracleSql(maxRounds: Int): String = {
    val orbit = (2 to maxRounds).map { i =>
      s""",
         c$i AS MATERIALIZED (SELECT count(*) AS chg
                 FROM l$i a JOIN l${i - 2} b USING (id)
                 WHERE a.label <> b.label)"""
    }.mkString
    val rr = (2 to maxRounds)
      .map(i => s"SELECT $i AS r, (SELECT chg FROM c$i) AS chg")
      .mkString(" UNION ALL ")
    val allR = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, id, label FROM l$i")
      .mkString(" UNION ALL ")
    s"""${lpaCtes(maxRounds)}$orbit,
         rr AS ($rr),
         ex AS (SELECT CAST(min(r) AS BIGINT) AS er FROM rr WHERE chg = 0),
         allr AS ($allR)
         SELECT label AS community, count(*) AS n_nodes, min(id) AS min_node,
           (SELECT er FROM ex) AS exit_round
         FROM allr WHERE r = (SELECT er FROM ex)
         GROUP BY label ORDER BY community"""
  }

  /** Modularity over the LPA labels: integer (intra, degree-mass) sums
    * per community, 2m recovered from the community table, fixed-order
    * double closed forms — mirroring GraphOps.graphModularity.
    */
  private def modularityOracleSql(rounds: Int): String =
    s"""${lpaCtes(rounds)},
         wl AS MATERIALIZED (SELECT e.src, e.dst, ls.label AS sl, ld.label AS dl
                 FROM edges e JOIN l$rounds ls ON ls.id = e.src
                 JOIN l$rounds ld ON ld.id = e.dst),
         bc AS MATERIALIZED (SELECT sl AS community,
                 CAST(count(*) AS BIGINT) AS deg_mass,
                 CAST(sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra_edges
               FROM wl GROUP BY sl),
         sz AS MATERIALIZED (SELECT label AS community, count(*) AS n_nodes
               FROM l$rounds GROUP BY label),
         m2 AS (SELECT CAST(sum(deg_mass) AS BIGINT) AS m2 FROM bc)
         SELECT community, n_nodes, intra_edges, deg_mass,
           round(intra_edges::DOUBLE / m2
                 - (deg_mass::DOUBLE / m2) * (deg_mass::DOUBLE / m2), 6)
             AS q_contrib,
           round(sum(intra_edges::DOUBLE / m2
                 - (deg_mass::DOUBLE / m2) * (deg_mass::DOUBLE / m2)) OVER (), 4)
             AS q_total
         FROM bc JOIN sz USING (community) CROSS JOIN m2 ORDER BY community"""

  /** The k-core oracle: the deg-capped co-purchase projection with the
    * exact-interpolating percentile edge rule (the triangles CTEs, at a
    * milder pct), then each peel round keeps nodes with >= k active
    * neighbors; the output is the per-round census trajectory.
    */
  private def kcoreOracleSql(pct: Double, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         a$i AS MATERIALIZED (SELECT e.src AS id FROM edges e
                 JOIN a${i - 1} s ON s.id = e.src
                 JOIN a${i - 1} t ON t.id = e.dst
                 GROUP BY e.src HAVING count(*) >= $k)"""
    }.mkString
    val census = (0 to rounds).map { i =>
      s"SELECT $i AS round, count(*) AS n_active, min(id) AS min_node FROM a$i"
    }.mkString("\n         UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS MATERIALIZED (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS MATERIALIZED (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS MATERIALIZED (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS MATERIALIZED (SELECT quantile_cont(shared, $pct) AS t FROM co),
         uedges AS MATERIALIZED (SELECT s1, s2 FROM co CROSS JOIN thr WHERE shared >= t),
         edges AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM uedges
                   UNION ALL SELECT s2, s1 FROM uedges),
         a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)$steps
         $census
         ORDER BY round"""
  }

  /** The random-walk oracle: ranked edge list + per-step hop CTEs with
    * the identical md5(start|t|cur) mod-outdeg draw — DuckDB and Spark
    * compute the same digest over the same '|'-joined decimal string,
    * so the walks match row for row (GraphOps.graphRandomWalk).
    */
  /** The walk oracle WITHOUT its trailing total-order sort — the form
    * consumers embed as a CTE (graph_walk_pairs, the SGNS chain append
    * their own clauses). Standalone walk entries use
    * [[randomWalkOracleSql]], which adds the ORDER BY back. Exposing
    * the two parts separately replaces the old
    * `lastIndexOf("ORDER BY")` slicing, which would silently mis-slice
    * if an inner window/subquery ever followed the final sort.
    */
  private def randomWalkOracleBody(steps: Int): String = {
    val hops = (1 to steps).map { t =>
      s""",
         w$t AS MATERIALIZED (SELECT w.start, r.dst AS cur
                 FROM w${t - 1} w
                 JOIN deg d ON d.src = w.cur
                 JOIN rk r ON r.src = w.cur AND r.rn =
                   ('0x' || substring(md5(w.start || '|' || $t || '|' || w.cur), 1, 8))::BIGINT
                     % d.outdeg + 1)"""
    }.mkString
    val corpus = (0 to steps).map { t =>
      s"SELECT start, $t AS step, cur AS node FROM w$t"
    }.mkString("\n         UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         rk AS MATERIALIZED (SELECT src, dst, row_number() OVER
                 (PARTITION BY src ORDER BY dst) AS rn FROM edges),
         w0 AS MATERIALIZED (SELECT src AS start, src AS cur FROM deg)$hops
         SELECT start AS start_id, step, node FROM ($corpus)"""
  }

  private def randomWalkOracleSql(steps: Int): String =
    randomWalkOracleBody(steps) + "\n         ORDER BY start_id, step"

  /** The BIASED-walk oracle: ranked first-order step, then per step one
    * candidate CTE (fanout + LEFT membership join for the triangle
    * test, CASE weights) and one selection CTE (ordered cumulative /
    * total window sums, the md5 uniform u, inverse-CDF pick by min c
    * with cum > u·W) — every number dyadic, so the windows replay the
    * engine exactly (GraphOps.graphRandomWalkBiased).
    */
  private def randomWalkBiasedOracleSql(
      steps: Int, retP: Double, outQ: Double): String = {
    val wRet = 1.0 / retP
    val wOut = 1.0 / outQ
    val hops = (2 to steps).map { t =>
      s""",
         c$t AS MATERIALIZED (SELECT s.start, s.prev, s.cur, e.dst AS c,
                 CASE WHEN e.dst = s.prev THEN $wRet
                      WHEN m.src IS NOT NULL THEN 1.0 ELSE $wOut END AS w
                 FROM s${t - 1} s JOIN edges e ON e.src = s.cur
                 LEFT JOIN edges m ON m.src = s.prev AND m.dst = e.dst),
         s$t AS MATERIALIZED (SELECT start, min(cur) AS prev, min(c) AS cur
                 FROM (SELECT start, cur, c,
                     sum(w) OVER (PARTITION BY start ORDER BY c
                       ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(w) OVER (PARTITION BY start) AS tot,
                     ('0x' || substring(md5(start || '|' || $t || '|' || prev || '|' || cur), 1, 8))::BIGINT
                       / 4294967296.0 AS u
                   FROM c$t) x
                 WHERE cum > u * tot GROUP BY start)"""
    }.mkString
    val corpus = (s"SELECT start, 0 AS step, start AS node FROM s1" +:
      (1 to steps).map(t => s"SELECT start, $t AS step, cur AS node FROM s$t"))
      .mkString("\n         UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         rk AS MATERIALIZED (SELECT src, dst, row_number() OVER
                 (PARTITION BY src ORDER BY dst) AS rn FROM edges),
         s1 AS MATERIALIZED (SELECT d.src AS start, d.src AS prev, r.dst AS cur
                 FROM deg d JOIN rk r ON r.src = d.src AND r.rn =
                   ('0x' || substring(md5(d.src || '|' || 1 || '|' || d.src), 1, 8))::BIGINT
                     % d.outdeg + 1)$hops
         SELECT start AS start_id, step, node FROM ($corpus)
         ORDER BY start_id, step"""
  }

  /** The k-truss oracle: the kcore projection CTEs in canonical s1<s2
    * form, then each peel round recomputes per-edge triangle SUPPORT
    * (wedge self-join of the bidirectional survivors on the shared
    * endpoint) and keeps edges with support ≥ k−2 — mirroring
    * GraphOps.trussPeel's left-join + coalesce filter exactly; the
    * output is the per-round edge-census trajectory.
    */
  private def ktrussOracleSql(pct: Double, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         b$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1}
                 UNION ALL SELECT dst, src FROM e${i - 1}),
         s$i AS MATERIALIZED (SELECT x.src AS a, y.src AS b, count(*) AS supp
                 FROM b$i x JOIN b$i y ON x.dst = y.dst AND x.src < y.src
                 GROUP BY x.src, y.src),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                 LEFT JOIN s$i s ON s.a = e.src AND s.b = e.dst
                 WHERE coalesce(s.supp, 0) >= ${k - 2})"""
    }.mkString
    val census = (0 to rounds).map { i =>
      s"SELECT $i AS round, count(*) AS n_edges, min(src) AS min_src FROM e$i"
    }.mkString("\n         UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         sc AS MATERIALIZED (SELECT cust FROM pairs GROUP BY cust HAVING count(*) <= 256),
         kept AS MATERIALIZED (SELECT p.cust, p.supp FROM pairs p JOIN sc USING (cust)),
         co AS MATERIALIZED (SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
                FROM kept a JOIN kept b ON a.cust = b.cust AND a.supp < b.supp
                GROUP BY a.supp, b.supp),
         thr AS MATERIALIZED (SELECT quantile_cont(shared, $pct) AS t FROM co),
         e0 AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co CROSS JOIN thr
                 WHERE shared >= t)$steps
         $census
         ORDER BY round"""
  }

  /** The HITS oracle: directed cust→supp edges only; each round is two
    * matvec aggregates with L1 normalization, scores re-quantized to 9
    * decimals per half-round exactly as GraphOps.graphHits does — the
    * re-sync that stops float summation-order ulps from compounding.
    */
  /** The HITS CONVERGENCE oracle: the same unrolled a/h chain as
    * `hitsOracleSql` run to `maxRounds`, an authority L1-residual CTE
    * per round from 2 on, the exit round derived in SQL as the first
    * with residual < tol, and BOTH sides selected at that round — the
    * pagerank_conv pattern applied to the mutually-recursive pair.
    */
  private def hitsConvOracleSql(maxRounds: Int, tol: Double): String = {
    val steps = (1 to maxRounds).map { i =>
      val resid = if (i < 2) "" else s""",
         dd$i AS MATERIALIZED (SELECT round(sum(abs(a.score - b.score)), 9) AS delta
                 FROM a$i a JOIN a${i - 1} b USING (id))"""
      s""",
         ar$i AS MATERIALIZED (SELECT e.dst AS id, sum(hp.score) AS s
                 FROM edges e JOIN h${i - 1} hp ON hp.id = e.src GROUP BY e.dst),
         a$i AS MATERIALIZED (SELECT id,
                 round(s / (SELECT sum(s) FROM ar$i), 9) AS score FROM ar$i)$resid,
         hr$i AS MATERIALIZED (SELECT e.src AS id, sum(ap.score) AS s
                 FROM edges e JOIN a$i ap ON ap.id = e.dst GROUP BY e.src),
         h$i AS MATERIALIZED (SELECT id,
                 round(s / (SELECT sum(s) FROM hr$i), 9) AS score FROM hr$i)"""
    }.mkString
    val rr = (2 to maxRounds)
      .map(i => s"SELECT $i AS r, (SELECT delta FROM dd$i) AS delta")
      .mkString(" UNION ALL ")
    val allA = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, id, score FROM a$i").mkString(" UNION ALL ")
    val allH = (1 to maxRounds)
      .map(i => s"SELECT $i AS r, id, score FROM h$i").mkString(" UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs),
         h0 AS MATERIALIZED (SELECT DISTINCT src AS id, 1.0 AS score FROM edges)$steps,
         rr AS ($rr),
         ex AS (SELECT CAST(min(r) AS BIGINT) AS er FROM rr WHERE delta < $tol),
         alla AS ($allA), allh AS ($allH)
         SELECT side, id, score, (SELECT er FROM ex) AS exit_round FROM (
           (SELECT 'auth' AS side, id, round(score, 6) AS score FROM alla
            WHERE r = (SELECT er FROM ex) ORDER BY score DESC, id LIMIT 10)
           UNION ALL
           (SELECT 'hub' AS side, id, round(score, 6) AS score FROM allh
            WHERE r = (SELECT er FROM ex) ORDER BY score DESC, id LIMIT 10)) u
         ORDER BY side, score DESC, id"""
  }

  private def hitsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         ar$i AS MATERIALIZED (SELECT e.dst AS id, sum(hp.score) AS s
                 FROM edges e JOIN h${i - 1} hp ON hp.id = e.src GROUP BY e.dst),
         a$i AS MATERIALIZED (SELECT id,
                 round(s / (SELECT sum(s) FROM ar$i), 9) AS score FROM ar$i),
         hr$i AS MATERIALIZED (SELECT e.src AS id, sum(ap.score) AS s
                 FROM edges e JOIN a$i ap ON ap.id = e.dst GROUP BY e.src),
         h$i AS MATERIALIZED (SELECT id,
                 round(s / (SELECT sum(s) FROM hr$i), 9) AS score FROM hr$i)"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs),
         h0 AS MATERIALIZED (SELECT DISTINCT src AS id, 1.0 AS score FROM edges)$steps
         SELECT side, id, score FROM (
           (SELECT 'auth' AS side, id, round(score, 6) AS score FROM a$rounds
            ORDER BY score DESC, id LIMIT 10)
           UNION ALL
           (SELECT 'hub' AS side, id, round(score, 6) AS score FROM h$rounds
            ORDER BY score DESC, id LIMIT 10)) u
         ORDER BY side, score DESC, id"""
  }

  /** The betweenness oracle: sampled-source Brandes unrolled — forward
    * rings f1..fR accumulate (seed, id, dist, σ) with NOT-EXISTS
    * settlement against the union-so-far; backward layers bR..b1 fold
    * dependencies δ(v) = Σ σ(v)/σ(w)·(1+δ(w)) over one-ring-out
    * successors, re-quantized to 9 per layer (mirroring the engine
    * loop); bc = per-node Σ over seeds, rounded to 6 before the cut.
    */
  private def betweennessOracleSql(
      seedMod: Int, nSeeds: Int, maxRounds: Int): String = {
    val fwd = (1 to maxRounds).map { r =>
      s""",
         f$r AS MATERIALIZED (SELECT f.seed, e.dst AS id, $r AS dist,
                 sum(f.sigma) AS sigma
               FROM f${r - 1} f JOIN edges e ON e.src = f.id
               WHERE NOT EXISTS (SELECT 1 FROM all${r - 1} a
                                 WHERE a.seed = f.seed AND a.id = e.dst)
               GROUP BY f.seed, e.dst),
         all$r AS MATERIALIZED (SELECT * FROM all${r - 1}
                 UNION ALL SELECT * FROM f$r)"""
    }.mkString
    val bwd = new StringBuilder(s""",
         b$maxRounds AS MATERIALIZED (SELECT seed, id, 0.0 AS delta
                 FROM all$maxRounds WHERE dist = $maxRounds)""")
    for (r <- (maxRounds - 1) to 1 by -1) {
      bwd.append(s""",
         w$r AS MATERIALIZED (SELECT b.seed, e.src AS vid,
                 (1 + b.delta) / a.sigma AS wterm
               FROM b${r + 1} b
               JOIN all$maxRounds a ON a.seed = b.seed AND a.id = b.id
                 AND a.dist = ${r + 1}
               JOIN edges e ON e.dst = b.id),
         b$r AS MATERIALIZED (
               SELECT v.seed, v.id,
                 round(coalesce(sum(v.sigma * w.wterm), 0), 9) AS delta
               FROM (SELECT * FROM all$maxRounds WHERE dist = $r) v
               LEFT JOIN w$r w ON w.seed = v.seed AND w.vid = v.id
               GROUP BY v.seed, v.id
               UNION ALL SELECT seed, id, delta FROM b${r + 1})""")
    }
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         seeds AS MATERIALIZED (SELECT id AS seed FROM nodes
                 WHERE id % $seedMod = 0 ORDER BY id LIMIT $nSeeds),
         f0 AS (SELECT seed, seed AS id, 0 AS dist, 1::BIGINT AS sigma FROM seeds),
         all0 AS MATERIALIZED (SELECT * FROM f0)$fwd${bwd.toString}
         SELECT id AS node_id, round(sum(delta), 6) AS bc
         FROM b1 WHERE id NOT IN (SELECT seed FROM seeds)
         GROUP BY id ORDER BY bc DESC, node_id LIMIT 50"""
  }

  /** The harmonic-closeness oracle: the betweenness forward chain
    * (rings with NOT-EXISTS settlement), then Σ 1/dist per node over
    * dist ≥ 1 plus the reaching-seed count.
    */
  private def closenessOracleSql(
      seedMod: Int, nSeeds: Int, maxRounds: Int): String = {
    val fwd = (1 to maxRounds).map { r =>
      s""",
         f$r AS MATERIALIZED (SELECT f.seed, e.dst AS id, $r AS dist,
                 sum(f.sigma) AS sigma
               FROM f${r - 1} f JOIN edges e ON e.src = f.id
               WHERE NOT EXISTS (SELECT 1 FROM all${r - 1} a
                                 WHERE a.seed = f.seed AND a.id = e.dst)
               GROUP BY f.seed, e.dst),
         all$r AS MATERIALIZED (SELECT * FROM all${r - 1}
                 UNION ALL SELECT * FROM f$r)"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         seeds AS MATERIALIZED (SELECT id AS seed FROM nodes
                 WHERE id % $seedMod = 0 ORDER BY id LIMIT $nSeeds),
         f0 AS (SELECT seed, seed AS id, 0 AS dist, 1::BIGINT AS sigma FROM seeds),
         all0 AS MATERIALIZED (SELECT * FROM f0)$fwd
         SELECT id AS node_id, round(sum(1.0 / dist), 6) AS closeness,
           count(*) AS n_reach
         FROM all$maxRounds WHERE dist >= 1
         GROUP BY id ORDER BY closeness DESC, node_id LIMIT 50"""
  }

  /** The BFS oracle: d0 seeds the id%64 sources at distance 0 and every
    * other node at the 999999 sentinel; each CTE is one min-plus round
    * (min in-neighbor distance + 1, `least` against the node's own),
    * mirroring GraphOps.graphBfs exactly — the components generator with
    * distance arithmetic in place of plain min.
    */
  private def bfsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         d$i AS MATERIALIZED (SELECT d.id, least(d.dist, nb.nbr) AS dist
                 FROM d${i - 1} d JOIN
                   (SELECT e.dst AS id, min(dp.dist) + 1 AS nbr
                    FROM edges e JOIN d${i - 1} dp ON dp.id = e.src
                    GROUP BY e.dst) nb USING (id))"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         d0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN id % 64 = 0 THEN 0 ELSE 999999 END
                AS BIGINT) AS dist FROM nodes)$steps
         SELECT CAST(CASE WHEN dist >= 999999 THEN -1 ELSE dist END AS BIGINT)
             AS hops,
           count(*) AS n_nodes, min(id) AS min_node
         FROM d$rounds GROUP BY 1 ORDER BY hops"""
  }

  /** The PageRank oracle, generated: r0 is the uniform vector, each CTE
    * r{i} is one superstep (contributions summed on dst, damped update),
    * mirroring GraphOps.graphPagerank's loop exactly. Unrolled CTEs
    * rather than a recursive CTE because recursion + aggregation over the
    * recursive table is non-portable SQL; the round count is small and
    * fixed by contract.
    */
  private def pagerankOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s""",
         r$i AS MATERIALIZED (SELECT nodes.id,
                 0.15 / nn.n + 0.85 * coalesce(s.c, 0) AS rank
                 FROM nodes CROSS JOIN nn
                 LEFT JOIN (SELECT e.dst AS id, sum(r.rank / d.outdeg) AS c
                            FROM edges e JOIN r${i - 1} r ON r.id = e.src
                            JOIN deg d ON d.src = e.src
                            GROUP BY e.dst) s ON s.id = nodes.id)"""
    }.mkString
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
                   UNION ALL SELECT supp * 2 + 1, cust * 2 FROM pairs),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)$steps
         SELECT id AS node_id, round(rank, 6) AS pr FROM r$rounds
         ORDER BY pr DESC, node_id LIMIT 100"""
  }
}
