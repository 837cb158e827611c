package graft

import graft.Tables._
import graft.operators._

/** Physical-plan audits — the 100 TB design contract as executable
  * assertions. Each test pins the plan property that makes the operator
  * survive a 1000-executor scale-up: pushdown reaching the scan,
  * broadcast joins staying broadcast, global top-k staying
  * TakeOrderedAndProject, and no accidental cartesian/nested-loop join in
  * any bucketed pipeline.
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship q1: filter and projection push into the parquet scan") {
    val p = plan(RelationalOps.pricingSummary(lineitem(spark, sf0001)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in scan:\n$p")
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
    assert(p.contains("HashAggregate"), "expected partial+final hash aggregate")
  }

  test("scan_parquet: predicate pushed, schema pruned to 3 columns") {
    val p = plan(RelationalOps.scanParquet(supplier(spark, sf0001)))
    assert(p.contains("PushedFilters: [IsNotNull(s_acctbal), GreaterThan(s_acctbal"),
      s"no pushed filter:\n$p")
    assert(!p.contains("s_nationkey"), "unused column not pruned from scan")
  }

  test("pipeline_curriculum: the only unpartitioned window runs over the score histogram") {
    val p = plan(PipelineOps.pipelineCurriculum(documents(spark, sf0001)))
    // corpus-side rank must be the per-score partitioned window; the
    // single-partition window exists only downstream of the histogram
    // aggregate (bounded input), never over raw documents
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.exists(w => w.contains("row_number") && w.contains("score")),
      s"per-score row_number window missing:\n$p")
    assert(p.contains("HashAggregate"), "histogram aggregate missing")
  }

  test("text_perplexity_filter: k-grid cum window is bucket-partitioned (unpartitioned only over the bucket histogram)") {
    // the micro-log grid can reach ~10⁷ distinct values — the nearest-rank
    // threshold must never push it through one task: any window ordered by
    // the k grid has to be PARTITIONED by the contiguous bucket; the only
    // unpartitioned window runs over the ≤1024-row bucket histogram
    val p = plan(TextOps.textPerplexityFilter(documents(spark, sf0001)))
    val wins = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(wins.nonEmpty, s"expected window operators in the plan:\n$p")
    val unpartitionedOverK = wins.filter(w => w.contains("k#") && !w.contains("bkt"))
    assert(unpartitionedOverK.isEmpty,
      s"k-grid window must be partitioned by bkt:\n${unpartitionedOverK.mkString("\n")}")
  }

  test("q_pareto_skyline: price cummax windows are bucket-partitioned, no quadratic join") {
    val p = plan(SortSetOps.paretoSkyline(orders(spark, sf0001)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline degraded to a quadratic join:\n$p")
    val overPrice = p.linesIterator
      .filter(w => w.contains("Window ") && w.contains("price_c#")
        && w.contains("ASC") && !w.contains("bkt")).toSeq
    assert(overPrice.isEmpty,
      s"price-ORDERED window must be partitioned by bkt:\n${overPrice.mkString("\n")}")
  }

  test("node_embed denseRankById: corpus rank is bucket-partitioned, equals the single-partition spelling") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the SGNS vocab rank must never push a corpus-scaled relation
    // through one task: the row_number window is PARTITIONED by the
    // contiguous id bucket; the only unpartitioned window runs over the
    // ≤1024-row bucket histogram (the bounded-histogram exemption)
    val nodes = orders(spark, sf0001)
      .select((col("o_custkey") * 2).as("node")).distinct()
    val df = PipelineOps.denseRankById(nodes)
    val p = plan(df)
    val rn = p.linesIterator
      .filter(w => w.contains("Window ") && w.contains("row_number")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("bkt")),
      s"corpus row_number window must be partitioned by bkt:\n$p")
    val expected = nodes.withColumn("rnk",
      row_number().over(Window.orderBy("node")))
    assert(df.except(expected).isEmpty && expected.except(df).isEmpty,
      "histogram rank must be bit-identical to ORDER BY row_number")
  }

  test("sim_pca: no shuffle join anywhere — model state broadcasts, corpus only scans") {
    // train: the 64-row component joins only via broadcast; project: the
    // folded component broadcasts into a map-side vector_dot scan
    val pt = plan(SimOps.simPcaTrain(Tables.embeddings(spark, sf0001)))
    assert(!pt.contains("SortMergeJoin"), s"PCA train shuffle-joined:\n$pt")
    val pp = plan(SimOps.simPcaProject(Tables.embeddings(spark, sf0001)))
    assert(!pp.contains("SortMergeJoin"), s"PCA project shuffle-joined:\n$pp")
    assert(pp.contains("vector_dot"), s"projection not the native kernel:\n$pp")
  }

  test("sink_pca_layout: the served range read prunes to the queried bands") {
    val p = plan(SimOps.sinkPcaLayout(spark, Tables.embeddings(spark, sf0001), sf0001))
    assert(p.contains("PartitionFilters: [") && p.contains("band"),
      s"band range must prune partitions at the scan:\n$p")
    assert(!p.contains("PushedFilters: [In(band"), // band is a PARTITION col
      s"band must be a partition column, not a data filter:\n$p")
  }

  test("sim_maxsim: pure broadcast scan into TakeOrderedAndProject, native dot kernel") {
    val p = plan(SimOps.simMaxSim(Tables.embeddings(spark, sf0001)))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(p.contains("vector_dot"), s"native kernel not in the plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query vector not broadcast:\n$p")
  }

  test("q_existence_join plans the ExistenceJoin variant (semi-join + exists flag)") {
    val p = plan(graft.operators.AuditQueries.qExistenceJoin(
      spark, Tables.orders(spark, sf0001), Tables.customer(spark, sf0001)))
    assert(p.contains("ExistenceJoin"),
      s"IN-under-OR must plan as ExistenceJoin, not rewrite to semi:\n$p")
  }

  test("join_broadcast plans as BroadcastHashJoin (dims never shuffle the fact side)") {
    val p = plan(JoinOps.broadcastDims(
      customer(spark, sf0001), nation(spark, sf0001), region(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("join_sortmerge plans as SortMergeJoin (large-large, spill-safe)") {
    val p = plan(JoinOps.sortMerge(lineitem(spark, sf0001), orders(spark, sf0001)))
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
  }

  test("topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(SortSetOps.topk(orders(spark, sf0001)))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
  }

  test("sample_stratified: the md5-bucket filter reaches the scan (map-side, no shuffle before sort)") {
    val p = plan(RelationalOps.sampleStratified(lineitem(spark, sf0001)))
    assert(p.contains("DataFilters: [("), s"stratified filter not pushed to the scan node:\n$p")
    // the only exchange is the final presentation sort
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"stratified sampling should not shuffle data:\n$p")
  }

  test("sessionize: both keyed windows share ONE user_id exchange") {
    val p = plan(WindowOps.sessionize(events(spark, sf0001)))
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(hashEx === 1, s"lag + running-sum windows must reuse one shuffle:\n$p")
  }

  test("source_api_v2 scans through the custom DSv2 source (BatchScan, one partition per page)") {
    val df = graft.sources.EtlOps.sourceApiV2(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BatchScan"), s"V2 source not planned as BatchScan:\n$p")
    assert(p.contains("paged_json"), s"scan is not the PagedJsonSource table:\n$p")
  }

  test("sim_join_bucketed: probe-corpus join is an equi-join on the cell key") {
    val p = plan(SimOps.simJoinBucketed(embeddings(spark, sf0001)))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"probe side fell back to nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan contains a cartesian product:\n$p")
  }

  test("agg_retention: one user_id exchange serves distinct, cohort window, and no self-join") {
    val p = plan(AggOps.aggRetention(Tables.events(spark, sf0001)))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userEx === 1, s"distinct + cohort window must share ONE user shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"cohort must come from a window, not a self-join:\n$p")
  }

  test("agg_rolling_distinct: bounded explode replaces the range join — no nested loop") {
    val p = plan(AggOps.aggRollingDistinct(Tables.events(spark, sf0001)))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"rolling distinct fell back to the BETWEEN range join:\n$p")
    assert(!p.contains("CartesianProduct"), s"rolling distinct plans a cross product:\n$p")
  }

  test("join_geo: proximity join is an equi-join on the cell key, never a cross product") {
    val p = plan(JoinOps.joinGeo(
      Tables.customer(spark, sf0001), Tables.supplier(spark, sf0001)))
    assert(!p.contains("CartesianProduct"), s"geo join plans a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"geo join fell back to nested-loop:\n$p")
  }

  test("bucketed dedup pipelines contain no cartesian or nested-loop join") {
    Seq(
      "dedup_near" -> plan(LlmOps.dedupNear(documents(spark, sf0001))),
      "dedup_simhash" -> plan(SimOps.dedupSimhash(documents(spark, sf0001))),
      "dedup_ngram_jaccard" -> plan(SimOps.dedupNgramJaccard(documents(spark, sf0001))),
      "dedup_embedding" -> plan(SimOps.dedupEmbedding(embeddings(spark, sf0001))),
      "text_containment" -> plan(SimOps.textContainment(documents(spark, sf0001)))
    ).foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
    }
  }

  test("dedup_simhash: signature kernel evaluated ONCE, and the fused pipeline is join-free") {
    val p = plan(SimOps.dedupSimhash(documents(spark, sf0001)))
    // the one-bigint signature rides the band shuffle and the pair stream
    // carries both sides' values — re-joining a signature table onto each
    // pair side re-ran the md5+SimHash60 kernel over the corpus 3x
    // (measured 5.0 s vs 0.8 s at sf0.1)
    val kernels = "simhash60\\(".r.findAllIn(p).length
    assert(kernels == 1, s"SimHash kernel evaluated $kernels times (expected 1):\n$p")
    assert(!p.contains("Join"), s"fused simhash pipeline should need no join:\n$p")
  }

  test("pretraining funnels run their MinHash stage exactly once (single labeling pass)") {
    // the per-branch census form re-derived survivor stages per census row,
    // re-running dedupNear's signature pipeline once per downstream stage
    Seq(
      "pipeline_pretrain" -> plan(LlmOps.pipelinePretrain(documents(spark, sf0001))),
      "pipeline_pretrain_v2" -> plan(operators.PipelineOps.pipelinePretrainV2(documents(spark, sf0001)))
    ).foreach { case (name, p) =>
      val kernels = "minhash_sig\\(".r.findAllIn(p).length
      assert(kernels == 1,
        s"$name evaluates the MinHash kernel $kernels times (expected 1):\n$p")
    }
  }

  test("join_skew_aqe: AQE splits the constructed hot partition (skew=true in the final plan)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    // a defaulted conf reads back as null — treat that as "unset on restore"
    val saved = keys.map(k =>
      k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_)))
    try {
      // test-scale thresholds: the hot partition is tens of KB, not the
      // production 256 MB default — the MECHANISM under test is the same
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      // no broadcast escape hatch: at 100 TB neither side broadcasts,
      // which is the regime where the skew split is the only remedy
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = JoinOps.skewAqe(lineitem(spark, sf0001), orders(spark, sf0001))
      df.collect() // AQE finalizes the plan only on execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot partition's join as skew-handled:\n$p")
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("join_asof_nearest: both direction frames share ONE user_id exchange") {
    val p = plan(JoinOps.asofNearest(events(spark, sf0001)))
    // backward and forward candidates must fold into one Window operator
    // over one hash exchange — a per-direction join would shuffle twice
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one user_id exchange, found $exchanges:\n$p")
    // one Window operator per frame direction, chained over the SAME
    // sorted partitioning — and crucially only one Sort below them
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows <= 2, s"expected <=2 Window operators, found $windows:\n$p")
    val sorts = "\\bSort \\[user_id".r.findAllIn(p).length
    assert(sorts == 1, s"expected one user_id sort, found $sorts:\n$p")
  }

  test("join_interval: time-cell grid keeps the overlap join an equi-join (no nested loop)") {
    val p = plan(JoinOps.intervalOverlap(orders(spark, sf0001)))
    // the naive theta form would plan exactly these two shapes
    assert(!p.contains("CartesianProduct"), s"interval join plans a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"interval join plans a nested loop:\n$p")
    // the (tenant, cell) key must drive a HASH-keyed join (broadcast at
    // test scale, shuffled at 100 TB) — the shape whose skew is bounded
    // by cell width rather than by the whole time axis
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-keyed join on (tenant, cell):\n$p")
  }

  test("dedup_substring: df rollup is two-phase; no pair expansion joins") {
    val p = plan(LlmOps.dedupSubstring(documents(spark, sf0001)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"substring profile plans a non-equi join:\n$p")
    // hot boilerplate windows pre-combine map-side (SkewSpec's argument)
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("partial_count", exchange) > exchange,
      s"window-df count is not a partial-below-exchange aggregate:\n$p")
  }

  test("sim_radius: norm prune stays map-side — no corpus shuffle before the result sort") {
    val p = plan(SimOps.simRadius(embeddings(spark, sf0001)))
    // the only exchanges allowed are the 1-row query/threshold broadcasts
    // and the final presentation sort of the (small) result
    assert(!p.contains("Exchange hashpartitioning"),
      s"radius search shuffles the corpus:\n$p")
  }

  test("sink_ann_index: serving scan is partition-pruned to the probed cells") {
    val p = plan(operators.SimOps.sinkAnnIndex(spark, sf0001))
    // the join on the partition column must become a file-level prune —
    // the scan carries a dynamic partition filter, so unprobed cells'
    // files are never read (nprobe/k of the index, the at-scale payoff)
    assert(p.contains("dynamicpruning"),
      s"index scan is not dynamically partition-pruned:\n$p")
    // (the 1-row query-vector broadcast legitimately plans as a nested-
    // loop join — bounded; only an unbounded cartesian would be a defect)
    assert(!p.contains("CartesianProduct"),
      s"serving path plans a cartesian product:\n$p")
  }

  test("pipeline_node_embed_served: serving scan is partition-pruned to the probed cells") {
    val dir = PipelineOps.nodeEmbedIndexBuild(spark, sf0001)
    val p = plan(PipelineOps.nodeEmbedIndexServe(spark, dir))
    // the join on the cell partition column must become a file-level
    // prune — unprobed cells' bytes are never read (the sink_ann_index
    // contract carried over to the learned node space)
    assert(p.contains("dynamicpruning"),
      s"node-embed index scan is not dynamically partition-pruned:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"serving path plans a cartesian product:\n$p")
  }

  test("topk_per_group_native: partial/final execs straddle the exchange; equals the window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // repartition forces a real multi-partition partial phase
    val in = Tables.orders(spark, sf0001).repartition(5)
    val df = graft.plans.TopKOps.topKPerGroup(
      in, Seq("o_orderpriority"), Seq(("o_totalprice", false), ("o_orderkey", false)), 3)
    val p = df.queryExecution.executedPlan.toString
    // the exec prints as "TopKPerGroup [...], k, partialFlag"
    val hits = "TopKPerGroup \\[".r.findAllIn(p).toSeq
    assert(hits.length == 2, s"expected partial+final TopKPerGroup exec pair:\n$p")
    val first = p.indexOf("TopKPerGroup [")
    val ex = p.indexOf("Exchange hashpartitioning", first)
    val second = p.indexOf("TopKPerGroup [", first + 1)
    assert(first < ex && ex < second,
      s"group exchange must sit BETWEEN final and partial phases:\n$p")
    assert(p.substring(first, ex).contains(", 3, false") &&
      p.substring(second).contains(", 3, true"),
      s"final phase must be above the exchange, partial below:\n$p")
    // exact equality with the built-in window spelling (same total order)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
    val expect = Tables.orders(spark, sf0001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    assert(df.exceptAll(expect).count() === 0 && expect.exceptAll(df).count() === 0,
      "native top-k must return exactly the window form's row set")
  }

  test("q_named_window: three functions over the named window share ONE Window operator") {
    val p = plan(operators.AuditQueries.qNamedWindow(spark, Tables.orders(spark, sf0001)))
    val n = "Window \\[".r.findAllIn(p).length
    assert(n === 1, s"expected exactly one Window node, found $n:\n$p")
  }

  test("sql_cache_table: downstream aggregate scans the in-memory cache, not the files") {
    val p = plan(operators.AuditQueries.sqlCacheTable(
      spark, Tables.orders(spark, sf0001)))
    assert(p.contains("InMemoryRelation") && p.contains("In-memory table"),
      s"aggregate must read the cached relation:\n$p")
  }

  test("join_dpp: date-partitioned fact scan carries a dynamic partition filter") {
    val p = plan(operators.JoinOps.joinDpp(spark, sf0001))
    assert(p.contains("dynamicpruning"),
      s"fact scan is not dynamically partition-pruned:\n$p")
  }

  test("win_median_sliding: frame median is one window pass, no self-join") {
    val p = plan(operators.WindowOps.medianSliding(Tables.events(spark, sf0001)))
    assert(!p.contains("Join"), s"rolling median planned a join:\n$p")
    assert(p.contains("Window"), s"expected a Window node:\n$p")
  }

  test("pipeline_pretrain_v2: no quadratic join anywhere; the gate predicate stays linear") {
    val p = plan(operators.PipelineOps.pipelinePretrainV2(documents(spark, sf0001)))
    assert(!p.contains("CartesianProduct"), s"funnel plans a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"funnel plans a nested-loop join:\n$p")
    // the repetition gate's trigram build must remain the zipped-slice
    // form: filter pushdown inlines the token-array alias into the
    // predicate, and an element_at(ft, i) transform there re-tokenizes
    // the document per element (interpreted lambdas, no codegen CSE) —
    // O(tokens^2), measured 10.9 s of a 14.8 s funnel at sf0.1
    assert(!p.contains("element_at"),
      s"gate predicate uses element_at over the token array — quadratic when inlined:\n$p")
  }

  test("sink_zorder read-back pushes the 2-D box predicate into the parquet scan") {
    // the layout only pays off if the engine actually consults file/row-
    // group stats — i.e. the box filter must reach the scan as
    // PushedFilters, not evaluate post-scan
    // (explain truncates the PushedFilters list, so assert the leading
    // user_id bounds — the value bounds are in the same pushed set)
    val p = plan(graft.sources.EtlOps.sinkZorder(spark, sf0001))
    assert(p.contains("PushedFilters: [") &&
      p.contains("GreaterThanOrEqual(user_id,4)") &&
      p.contains("LessThanOrEqual(user_id,11)"),
      s"box predicate did not reach the parquet scan:\n$p")
  }

  test("multimodal_framesample fans out map-side: no exchange before the final sort") {
    val p = plan(LlmOps.multimodalFramesample(documents(spark, sf0001)))
    // the only exchange allowed is the rangepartitioning of the final
    // ORDER BY; the sequence+explode fan-out itself must not shuffle
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"frame fan-out introduced a shuffle:\n$p")
    assert(p.contains("Generate"), "explode missing from the plan")
  }

  test("sim_topk / sim_join broadcast the probe side, never shuffle the corpus") {
    val pTopk = plan(LlmOps.simTopk(embeddings(spark, sf0001)))
    assert(pTopk.contains("TakeOrderedAndProject"), "sim_topk should heap-select top-k")
    val pJoin = plan(LlmOps.simJoin(embeddings(spark, sf0001)))
    assert(pJoin.contains("BroadcastNestedLoopJoin") || pJoin.contains("BroadcastExchange"),
      s"probe side not broadcast:\n$pJoin")
  }

  test("scalar-function families stay UDF-free (whole-stage codegen preserved)") {
    Seq(
      graft.functions.FuncOps.stringFns(documents(spark, sf0001)),
      graft.functions.FuncOps.mathFns(lineitem(spark, sf0001)),
      graft.functions.FuncOps.jsonFns(events(spark, sf0001))
    ).foreach { df =>
      df.collect() // finalize THIS plan (count() would execute a different one)
      val p = plan(df)
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        "built-in function family routed through a UDF")
      assert(p.contains("*(1)"), s"no whole-stage-codegen span (*(n)) in scalar pipeline:\n$p")
    }
  }

  test("join_bucketed joins co-located buckets with no exchange on the join keys") {
    val df = JoinOps.bucketed(orders(spark, sf0001), customer(spark, sf0001))
    val p = plan(df)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffle-free merge/hash join over buckets:\n$p")
    assert(!p.contains("hashpartitioning(o_custkey") && !p.contains("hashpartitioning(c_custkey"),
      s"bucketed join still exchanges on the join key:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan is not bucket-aware:\n$p")
  }

  test("sink_partitioned read-back prunes partitions via the date predicate") {
    val df = graft.sources.EtlOps.sinkPartitioned(spark, sf0001)
    val p = plan(df)
    assert(p.contains("PartitionFilters: [") && p.contains("event_date"),
      s"date filter did not become a partition filter:\n$p")
  }

  test("join_skew_salted equals the unsalted join result") {
    import spark.implicits._
    val salted = JoinOps.skewSalted(lineitem(spark, sf0001), orders(spark, sf0001))
      .as[(String, Long, Double)].collect().toSeq
    val plain = lineitem(spark, sf0001)
      .join(orders(spark, sf0001),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("l_extendedprice"), 2).as("s"))
      .orderBy("o_orderstatus")
      .as[(String, Long, Double)].collect().toSeq
    assert(salted === plain)
  }

  test("sim_ann_filtered: the metadata predicate pushes into the embeddings scan") {
    // the pre-filter form's 100 TB value IS the pushdown: the label
    // predicate must reach the scan, not evaluate after the cosine work
    val p = plan(operators.SimOps.simAnnFiltered(embeddings(spark, sf0001)))
    assert(p.contains("PushedFilters: [IsNotNull(label)"),
      s"label predicate did not push to the embeddings scan:\n$p")
  }

  test("q_sql_variables / q_parameterized: bound values resolve to pushed literals") {
    // variables and :params are analysis-time literals — the proof is the
    // predicate arriving in the scan's pushed-filter list, same as if the
    // user had typed the constant
    val pv = plan(operators.AuditQueries.qSqlVariables(spark, orders(spark, sf0001)))
    assert(pv.contains("GreaterThan(o_totalprice,300000.0)"),
      s"variable-gated predicate not pushed:\n$pv")
    val pp = plan(operators.AuditQueries.qParameterized(spark, orders(spark, sf0001)))
    assert(pp.contains("GreaterThanOrEqual(o_orderdate"),
      s"parameter-gated predicate not pushed:\n$pp")
  }

  test("q5 six-way join broadcasts dims and never plans a cartesian product") {
    val p = plan(AuditQueries.q5LocalSupplier(
      customer(spark, sf0001), orders(spark, sf0001), lineitem(spark, sf0001),
      supplier(spark, sf0001), nation(spark, sf0001), region(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "six-way join degraded to a cartesian product")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter did not push to the orders scan:\n$p")
  }

  test("correlated subqueries decorrelate to joins (no per-row subplan)") {
    // scalar: WHERE x = (SELECT max(x) … correlated) must become one
    // aggregate joined back on the correlation key
    val scalar = AuditQueries.qSubqueryScalar(spark, orders(spark, sf0001))
    val ps = scalar.queryExecution.optimizedPlan.toString
    assert(!ps.contains("scalar-subquery"), s"scalar subquery survived optimization:\n$ps")
    assert(ps.contains("Join"), s"decorrelation produced no join:\n$ps")
    val pPhys = plan(scalar)
    assert(!pPhys.contains("Subquery"), s"physical plan re-runs a subquery per row:\n$pPhys")
    // EXISTS / NOT EXISTS must become semi/anti joins
    val exists = AuditQueries.qSubqueryExists(
      spark, customer(spark, sf0001), orders(spark, sf0001))
    val pe = plan(exists)
    assert(pe.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$pe")
    assert(pe.contains("LeftAnti"), s"NOT EXISTS did not plan as an anti join:\n$pe")
    // IN must become a semi join too
    val in = AuditQueries.qSubqueryIn(spark, orders(spark, sf0001), customer(spark, sf0001))
    val pi = plan(in)
    assert(pi.contains("LeftSemi"), s"IN subquery did not plan as a semi join:\n$pi")
  }

  test("q2/q20/q22 decorrelation stress shapes: no per-row subplans, semi/anti joins, fixture values") {
    // Q2: correlated scalar MIN over the repeated multi-join must become
    // one aggregate joined back on p_partkey
    val q2 = AuditQueries.q2MinCostSupplier(spark, part(spark, sf0001),
      supplier(spark, sf0001), lineitem(spark, sf0001),
      nation(spark, sf0001), region(spark, sf0001))
    val o2 = q2.queryExecution.optimizedPlan.toString
    assert(!o2.contains("scalar-subquery"), s"q2 scalar subquery survived:\n$o2")
    val p2 = plan(q2)
    assert(!p2.contains("Subquery"), s"q2 re-runs a subplan per row:\n$p2")
    assert(q2.count() === 74L) // fixture-pinned (DuckDB cross-check)
    // Q20: every IN level a semi join; the correlated sum decorrelated
    val q20 = AuditQueries.q20ExcessShipments(spark, supplier(spark, sf0001),
      lineitem(spark, sf0001), part(spark, sf0001),
      nation(spark, sf0001), region(spark, sf0001))
    val p20 = plan(q20)
    assert(p20.contains("LeftSemi"), s"q20 IN chain did not plan semi joins:\n$p20")
    assert(!p20.contains("Subquery"), s"q20 re-runs a subplan per group:\n$p20")
    assert(q20.collect().map(_.getString(0)).toSeq ===
      Seq("Supplier#000000002", "Supplier#000000005", "Supplier#000000007"))
    // Q22: NOT EXISTS an anti join, the average one decorrelated scalar
    val q22 = AuditQueries.q22GlobalSales(spark, customer(spark, sf0001),
      orders(spark, sf0001))
    val p22 = plan(q22)
    assert(p22.contains("LeftAnti"), s"q22 NOT EXISTS not an anti join:\n$p22")
    assert(q22.agg(org.apache.spark.sql.functions.sum("n_custs"))
      .head().getLong(0) === 5L) // 5 no-urgent above-avg customers at sf0.001
  }

  test("q4/q13/q19 shapes: semi join, preserved outer join, disjunction reaches both scans") {
    // Q4: the EXISTS gate is one semi join, no per-order subplan
    val q4 = AuditQueries.q4OrderPriority(spark, orders(spark, sf0001),
      lineitem(spark, sf0001))
    val p4 = plan(q4)
    assert(p4.contains("LeftSemi"), s"q4 EXISTS not a semi join:\n$p4")
    assert(!p4.contains("Subquery"), s"q4 re-runs a subplan per row:\n$p4")
    assert(q4.agg(org.apache.spark.sql.functions.sum("order_count"))
      .head().getLong(0) === 58L) // DuckDB cross-check at sf0.001
    // Q13: the join-condition filter must NOT collapse the outer join —
    // zero-order customers stay (the c_count = 0 bucket exists)
    val q13 = AuditQueries.q13CustomerDistribution(spark,
      customer(spark, sf0001), orders(spark, sf0001))
    val p13 = plan(q13)
    assert(p13.contains("LeftOuter"), s"q13 outer join collapsed:\n$p13")
    assert(q13.agg(org.apache.spark.sql.functions.sum("custdist"))
      .head().getLong(0) === 150L) // every customer lands in one bucket
    // Q19: disjunctive predicates — no cartesian blowup; the part side
    // still broadcasts and part-only conjuncts reach the part scan
    val q19 = AuditQueries.q19DisjunctiveRevenue(spark,
      lineitem(spark, sf0001), part(spark, sf0001))
    val p19 = plan(q19)
    assert(!p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoopJoin"),
      s"q19 disjunction degraded the join:\n$p19")
    assert(p19.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p19")
    assert(q19.head().getLong(1) === 171L) // qualifying rows, DuckDB cross-check
  }

  test("q9/q11/q12/q16 shapes: pushdown, global-scalar HAVING, NOT-IN anti join") {
    // Q9: the p_name LIKE conjunct must reach the part scan as a pushed
    // filter, and the 5-way join must not degrade to a nested loop
    val q9 = AuditQueries.q9ProductProfit(spark, part(spark, sf0001),
      supplier(spark, sf0001), lineitem(spark, sf0001),
      orders(spark, sf0001), nation(spark, sf0001))
    val p9 = plan(q9)
    assert(!p9.contains("CartesianProduct") &&
      !p9.contains("BroadcastNestedLoopJoin"),
      s"q9 join degraded:\n$p9")
    assert(p9.contains("PushedFilters: [IsNotNull(p_name), StringContains(p_name,red)]")
      || p9.contains("StringContains(p_name,red)"),
      s"q9 p_name LIKE did not reach the part scan:\n$p9")
    assert(q9.count() === 70L) // DuckDB cross-check at sf0.001
    // Q11: the HAVING threshold is ONE uncorrelated scalar subquery —
    // Catalyst keeps it as `scalar-subquery#N []` (EMPTY outer-ref
    // list: computed once, broadcast into the Filter), never a
    // correlated `[outer(...)]` per-group subplan. Pin the emptiness,
    // not the absence — unlike q2's per-row min() this one SHOULD stay
    // a subquery expression.
    val q11 = AuditQueries.q11ImportantParts(spark, lineitem(spark, sf0001),
      supplier(spark, sf0001), nation(spark, sf0001), region(spark, sf0001))
    val o11 = q11.queryExecution.optimizedPlan.toString
    assert(o11.contains("scalar-subquery"), s"q11 lost its scalar gate:\n$o11")
    assert("scalar-subquery#\\d+ \\[[^\\]]".r.findFirstIn(o11).isEmpty,
      s"q11 global-total scalar stayed correlated (outer refs present):\n$o11")
    assert(q11.count() === 169L &&
      q11.agg(org.apache.spark.sql.functions.sum("value_cq"))
        .head().getLong(0) === 78907004358L) // DuckDB cross-check
    // Q12: one join + CASE census; the shipdate window must reach the
    // lineitem scan
    val q12 = AuditQueries.q12ShipmodePriority(spark, orders(spark, sf0001),
      lineitem(spark, sf0001))
    val r12 = q12.collect()
    assert(r12.map(_.getLong(1)).sum === 73L && r12.map(_.getLong(2)).sum === 120L)
    // Q16: the NOT IN must plan as an anti join (null-aware collapses to
    // plain anti — the subquery key is non-null), never a per-row subplan
    val q16 = AuditQueries.q16SupplierCounts(spark, part(spark, sf0001),
      lineitem(spark, sf0001), supplier(spark, sf0001))
    val p16 = plan(q16)
    assert(p16.contains("LeftAnti"), s"q16 NOT IN not an anti join:\n$p16")
    assert(!p16.contains("CartesianProduct"), s"q16 degraded:\n$p16")
    assert(q16.count() === 25L &&
      q16.agg(org.apache.spark.sql.functions.sum("supplier_cnt"))
        .head().getLong(0) === 235L) // DuckDB cross-check
  }

  test("q_window_sql: three window functions share ONE Window operator (one shuffle+sort)") {
    val p = plan(AuditQueries.qWindowSql(spark, customer(spark, sf0001)))
    val windows = p.linesIterator.count(_.matches(""".*[+*]- Window \[.*"""))
    assert(windows == 1, s"shared WINDOW clause split into $windows Window operators:\n$p")
    assert(p.contains("row_number()") && p.contains("ntile(4)"),
      s"window functions missing from the plan:\n$p")
  }

  test("q_recursive_cte: recursion plans as a UnionLoop, fact side joined once outside it") {
    val df = AuditQueries.qRecursiveCte(spark, orders(spark, sf0001))
    val p = plan(df)
    assert(p.contains("UnionLoop"), s"WITH RECURSIVE did not plan as a UnionLoop:\n$p")
    // the recursion generates the 12-row spine only — the orders scan must
    // appear outside the loop, exactly once (never re-scanned per step)
    assert(p.linesIterator.count(_.contains("orders.parquet")) == 1,
      s"orders scanned more than once (fact side inside the recursion?):\n$p")
  }

  test("join_null_safe: <=> stays an equi hash/merge join, never a nested loop") {
    val p = plan(JoinOps.nullSafe(orders(spark, sf0001)))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"null-safe join lost its equi-join strategy:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe join degraded to a nested loop:\n$p")
  }

  test("q_lateral_view: SQL LATERAL VIEW plans a Generate with partial agg before the exchange") {
    val p = plan(AuditQueries.qLateralView(spark, documents(spark, sf0001)))
    assert(p.contains("Generate"), s"LATERAL VIEW produced no Generate:\n$p")
    // tree strings print root-first: a partial aggregate BELOW the shuffle
    // means a HashAggregate appears after (deeper than) the Exchange.
    // Anchor on the HASH-partitioning Exchange specifically — the ORDER BY
    // adds a rangepartitioning Exchange above the final agg, which would
    // satisfy `lastAgg > exchange` even with no partial agg at all.
    val lastAgg = p.lastIndexOf("HashAggregate")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(lastAgg >= 0 && exchange >= 0 && lastAgg > exchange,
      s"no map-side partial aggregate below the shuffle (exploded tokens would cross the wire):\n$p")
  }

  test("graph_pagerank: superstep co-locates — no broadcast, adjacency never re-shuffles") {
    import org.apache.spark.sql.functions._
    // at 100 TB the rank vector exceeds any broadcast threshold — emulate
    // that regime (threshold off) and pin that the superstep still joins
    // exchange-free on the preserved cache partitioning when the rank
    // side arrives aligned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (withDeg, nodes, n) =
        GraphOps.buildGraph(orders(spark, sf0001), lineitem(spark, sf0001))
      val parts = spark.sessionState.conf.numShufflePartitions
      val ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
        .repartition(parts, col("id")).persist()
      ranks.count()
      val step = GraphOps.superstepPartitioned(withDeg, ranks, n, 0.85)
      // traverse the tree rather than the string: InMemoryTableScan PRINTS
      // its cached build plan (exchanges included) but does not expose it
      // as children, so collect() sees only the superstep's own operators
      val root = step.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val p = root.toString
      ranks.unpersist()
      withDeg.unpersist()
      val bhj = root.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.isEmpty, s"partitioned superstep must not broadcast the rank vector:\n$p")
      // both join inputs arrive hash-partitioned on the join key (edges from
      // the cached build shuffle, ranks from the previous round's aggregate),
      // so the ONLY exchange in a superstep is the dst aggregate's
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.length == 1,
        s"superstep should shuffle exactly once (dst agg), saw ${exchanges.length}:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stored adjacency: superstep consumes the bucketed layout with a single exchange") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val name = GraphOps.ensureAdjacencyTable(
        spark, orders(spark, sf0001), lineitem(spark, sf0001), sf0001,
        rebuild = true)
      val adj = spark.table(name).persist()
      val ids = adj.select(col("src").as("id")).distinct()
      val n = ids.count()
      // aligned to the layout's BUCKET count as the catalog records it:
      // co-location is against storage partitioning here
      val buckets = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        .bucketSpec.get.numBuckets
      val ranks = ids.select(col("id"), lit(1.0 / n).as("rank"))
        .repartition(buckets, col("id")).persist()
      ranks.count()
      val step = GraphOps.superstepPartitioned(adj, ranks, n, 0.85)
      val root = step.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val p = root.toString
      ranks.unpersist()
      adj.unpersist()
      val bhj = root.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.isEmpty, s"stored-layout superstep must not broadcast:\n$p")
      // the adjacency arrives hash-partitioned straight from the BUCKETED
      // scan (cached), so the only exchange is the dst aggregate's — the
      // storage layout replaces the build shuffle entirely
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.length == 1,
        s"stored-layout superstep should shuffle exactly once (dst agg), saw ${exchanges.length}:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_cbo_stats: table statistics flip the join order (CBO reorder), results identical") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    AuditQueries.cboPrepare(spark, sf0001)
    def innermost(df: org.apache.spark.sql.DataFrame): String = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, "no joins in optimized plan")
      joins.last.collectLeaves().map(_.toString).mkString("|") // preorder: last = deepest
    }
    val off = AuditQueries.cboQuery(spark, cbo = false)
    val on = AuditQueries.cboQuery(spark, cbo = true)
    // written order joins the two big tables first; the reorderer must
    // pull the filtered 25-row nation dim into the innermost join
    assert(!innermost(off).contains("graft_cbo_nation"),
      s"statless plan unexpectedly starts from nation:\n${innermost(off)}")
    assert(innermost(on).contains("graft_cbo_nation"),
      s"CBO did not reorder the selective dim inward:\n${on.queryExecution.optimizedPlan}")
    assert(off.collect().toSeq === on.collect().toSeq, "reorder changed the result")
  }

  test("graph_triangles / sim_kmeans: no cartesian, no non-scalar nested-loop stage") {
    // the two round-5 heavies: the co-purchase projection and the wedge
    // close must stay equi-joins on int keys, and the k-means assign a
    // constant-size broadcast. A BroadcastNestedLoopJoin is tolerated
    // ONLY in the engine's 1-row-scalar idiom (`crossJoin(broadcast(agg))`
    // — prints as "BuildRight, Cross"); anything else is an all-pairs
    // stage and fails.
    def audit(name: String, p: String): Unit = {
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("BuildRight, Cross"),
          s"$name has a non-scalar nested-loop join: $l\n$p")
      }
    }
    audit("graph_triangles", plan(GraphOps.graphTriangles(
      orders(spark, sf0001), lineitem(spark, sf0001))))
    audit("sim_kmeans", plan(SimOps.simKmeans(embeddings(spark, sf0001))))
  }

  test("q_lateral_join: per-row LIMIT decorrelates to a ranked window join, no nested loop") {
    val p = plan(AuditQueries.qLateralJoin(
      spark, customer(spark, sf0001), orders(spark, sf0001)))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated LATERAL stayed a per-row nested loop:\n$p")
    assert(p.contains("Window") || p.contains("row_number"),
      s"expected the decorrelated ranked-window rewrite:\n$p")
  }

  test("q_sql_hints: the MERGE hint overrides the broadcast the planner would pick") {
    val p = plan(AuditQueries.qSqlHints(
      spark, orders(spark, sf0001), customer(spark, sf0001)))
    assert(p.contains("SortMergeJoin"), s"MERGE hint ignored:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"planner broadcast the hinted-away dim anyway:\n$p")
  }

  test("left_semi/anti never multiply rows (no project of right-side columns)") {
    val p = plan(JoinOps.leftSemi(customer(spark, sf0001), orders(spark, sf0001)))
    assert(p.contains("LeftSemi"), s"semi join lost its type:\n$p")
    assert(!p.contains("o_totalprice"), "semi join carries right-side payload columns")
  }

  test("join_bloom_pruned: broadcast bitmap semi-join prunes the fact side, result unchanged") {
    import org.apache.spark.sql.functions._
    val o = orders(spark, sf0001)
    val l = lineitem(spark, sf0001)
    val df = JoinOps.joinBloomPruned(o, l)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"bitmap pruning did not plan as a broadcast semi-join:\n$p")
    // semantically invisible: identical to the unpruned join
    val plain = l.join(o.filter(col("o_totalprice") > 495000.0),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("o_orderpriority")
    assert(df.collect().toSeq === plain.collect().toSeq)
    // and it actually prunes: the bitmap admits only a small slice of the fact
    val nBuckets = 1 << 16
    val bitmap = o.filter(col("o_totalprice") > 495000.0)
      .select(pmod(xxhash64(col("o_orderkey")), lit(nBuckets)).as("kb")).distinct()
    val surviving = l.join(broadcast(bitmap),
      pmod(xxhash64(col("l_orderkey")), lit(nBuckets)) === col("kb"), "left_semi").count()
    assert(surviving.toDouble / l.count() < 0.1,
      s"bitmap pruned almost nothing: $surviving rows survive")
  }

  test("pipeline_pack: the prefix-sum window is keyed on source — no global single-partition window") {
    val p = plan(PipelineOps.pipelinePack(documents(spark, sf0001)))
    assert(p.contains("Exchange hashpartitioning(source"),
      s"pack window not partitioned by source:\n$p")
    // exactly one hash exchange: the window's. A second would mean the
    // offsets shuffle twice; a SinglePartition exchange would mean the
    // whole corpus serializes through one task — the packing scale cliff.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global window detected — packing collapsed to one task:\n$p")
  }

  test("text_chunk: fan-out is map-side Generate with no shuffle before the presentation sort") {
    val p = plan(PipelineOps.textChunk(documents(spark, sf0001)))
    assert(p.contains("Generate"), s"chunking produced no Generate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking shuffled — the fan-out must stay map-side:\n$p")
  }

  test("join_storage_partitioned: the join runs with ZERO shuffle under it") {
    val df = graft.sources.EtlOps.joinStoragePartitioned(spark, sf0001)
    df.collect() // finalize the adaptive plan before inspecting it
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // collect() does not descend into materialized AQE query stages;
    // flatten through them explicitly
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(all)) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          all(q.plan)
        case _ => Nil
      })
    val smj = all(root).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"expected a sort-merge join:\n$root")
    // the storage layout co-locates both sides: NO exchange may appear
    // anywhere below the join — that absence IS the feature
    val shuffles = smj.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"storage-partitioned join must not shuffle either side:\n${smj.head}")
  }

  test("quality_expectations: the RI probe broadcasts the dim keys; checks share one scan per table") {
    val p = plan(QualityOps.qualityExpectations(
      orders(spark, sf0001), customer(spark, sf0001), lineitem(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"),
      s"referential-integrity probe must broadcast the dim side:\n$p")
    // one scan per fact table: orders appears twice (checks + RI probe
    // share nothing across different aggregates is fine), but lineitem's
    // conditional checks must come from a single scan
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans === 1, s"lineitem checks must share one scan, saw $liScans:\n$p")
  }

  test("sim_random_projection: pure map-side — no exchange anywhere in the projection") {
    val df = SimOps.simRandomProjection(embeddings(spark, sf0001))
    // drop the presentation sort (the only legitimate exchange): audit
    // the plan BELOW it
    val root = df.queryExecution.executedPlan
    val shuffles = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // exactly the one range-exchange of the final orderBy
    assert(shuffles.length <= 1,
      s"projection must not shuffle (only the presentation sort may):\n$root")
    assert(plan(df).contains("vector_dot"),
      "projection must run the codegen'd native dot kernel")
  }

  test("sample_weighted: the per-group cut is the native TopKPerGroup, not a full window") {
    val p = plan(RelationalOps.sampleWeighted(orders(spark, sf0001)))
    assert(p.contains("TopKPerGroup"),
      s"expected the native map-side top-k operator:\n$p")
  }

  test("text_bm25: the query-term cut is a top-12 TakeOrdered of the df aggregate, never a vocabulary sort") {
    val p = plan(operators.TextOps.textBm25(documents(spark, sf0001)))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary cut must be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query terms and scalars must broadcast:\n$p")
  }

  test("pipeline_dsir: the bucket weight table broadcasts onto the token scan") {
    val p = plan(PipelineOps.pipelineDsir(documents(spark, sf0001)))
    assert(p.contains("BroadcastHashJoin"),
      s"the 1024-row weight table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side scoring must never shuffle-join:\n$p")
    // (the 1-row totals crossJoin legitimately plans as a broadcast
    // nested loop — it is scalar state, not a relation pairing)
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("events_funnel: every step joins hash-wise on user_id — no nested loop") {
    val p = plan(AggOps.eventsFunnel(events(spark, sf0001)))
    assert(!p.contains("CartesianProduct"), s"cartesian in funnel plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in funnel plan:\n$p")
  }

  test("text_novelty: the first-occurrence join is hash on the digest key") {
    val p = plan(operators.TextOps.textNovelty(documents(spark, sf0001)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram join degenerated:\n$p")
  }

  test("agg_bootstrap_ci: all 32 replicas fold in ONE aggregate over one scan") {
    val p = plan(AggOps.aggBootstrapCi(orders(spark, sf0001)))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"bootstrap must read orders exactly once, saw $scans:\n$p")
    assert(!p.contains("Join"), s"bootstrap needs no join at all:\n$p")
  }

  test("biased walk: one step is one walker-side exchange over the cached arrays role — no window, no fanout (r15)") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = orders(spark, sf0001)
        .join(lineitem(spark, sf0001), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct().localCheckpoint()
      val edgesIn = pairs
        .select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"))
        .unionByName(pairs
          .select((col("supp") * 2 + 1).as("src"), (col("cust") * 2).as("dst")))
      val adj = GraphOps.biasedNeighborRole(edgesIn)
      adj.count()
      val state = edgesIn.select(col("src").as("start"), col("src").as("prev"),
        col("dst").as("cur")).distinct().localCheckpoint()
      val step = GraphOps.biasedStepDraw(state, adj, 2, 2.0, 0.5)
      val root = step.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val p = root.toString
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      // one exchange total: the O(walkers) state aligning to the cached
      // arrays role (which never moves). The r13/r14 shapes paid, per
      // step, an O(fanout) candidate frame + a (prev, c) membership SMJ
      // + a WindowExec (exchange + sort on start) — all gone: the draw
      // is a closed-form projection (bipartite graph ⇒ no triangles ⇒
      // two dyadic weight values ⇒ exact inverse-CDF crossing).
      assert(exchanges.length == 1,
        s"step should shuffle only the walker state (1 exchange), " +
          s"saw ${exchanges.length}:\n$p")
      assert(!p.contains("Window"), s"closed-form draw needs no window:\n$p")
      assert(!p.contains("SortMergeJoin") || exchanges.length == 1,
        s"unexpected join shape:\n$p")
      adj.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("biased walk: closed-form draw matches the window-sum inverse-CDF draw row for row (r15)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // replay the r14 window form (fanout + membership left join + cum/tot
    // window + filter + min) against biasedStepDraw on the same graph and
    // state — the closed form must reproduce it EXACTLY (dyadic weights)
    val pairs = orders(spark, sf0001)
      .join(lineitem(spark, sf0001), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct().localCheckpoint()
    val edgesIn = pairs
      .select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("supp") * 2 + 1).as("src"), (col("cust") * 2).as("dst")))
      .localCheckpoint()
    // one walker row per start (the loop invariant both forms assume):
    // prev = the node itself, cur = its smallest neighbor
    val state = edgesIn.groupBy(col("src"))
      .agg(min(col("dst")).as("cur"))
      .select(col("src").as("start"), col("src").as("prev"), col("cur"))
      .localCheckpoint()
    val (t, retP, outQ) = (2, 2.0, 0.5)
    val wCum = Window.partitionBy("start").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("start").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val oldForm = state
      .join(edgesIn.select(col("src").as("cur"), col("dst").as("c")), "cur")
      .join(edgesIn.select(col("src").as("mp"), col("dst").as("mc"),
        lit(1).as("tri")),
        col("prev") === col("mp") && col("c") === col("mc"), "left")
      .select(col("start"), col("prev"), col("cur"), col("c"),
        when(col("c") === col("prev"), lit(1.0 / retP))
          .when(col("tri").isNotNull, lit(1.0))
          .otherwise(lit(1.0 / outQ)).as("w"))
      .withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("tot", sum(col("w")).over(wTot))
      .withColumn("u", conv(substring(md5(concat_ws("|",
          col("start"), lit(t), col("prev"), col("cur"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0))
      .filter(col("cum") > col("u") * col("tot"))
      .groupBy(col("start"))
      .agg(min(col("cur")).as("prev"), min(col("c")).as("cur"))
    val adj = GraphOps.biasedNeighborRole(edgesIn)
    val newForm = GraphOps.biasedStepDraw(state, adj, t, retP, outQ)
    val diff = oldForm.exceptAll(newForm).count() +
      newForm.exceptAll(oldForm).count()
    adj.unpersist()
    assert(diff == 0, s"closed-form draw diverged from the window form on $diff rows")
  }

  test("co-purchase build: the deg² self-join consumes the clustered cache exchange-free (r14)") {
    import org.apache.spark.sql.functions._
    // broadcast disabled: at bench scale the cached side broadcasts (also
    // exchange-free); this pin proves the SMJ path a >10 MB corpus takes
    // rides the cache's (cust) partitioning and (cust, supp) ordering —
    // zero exchanges, zero sorts above the two InMemoryTableScans
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = orders(spark, sf0001)
        .join(lineitem(spark, sf0001), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val smallCust = pairs.groupBy(col("cust"))
        .agg(count(lit(1)).as("cdeg"))
        .filter(col("cdeg") <= 256).select("cust")
      val kept = pairs.join(smallCust, "cust")
        .repartition(col("cust")).sortWithinPartitions("cust", "supp")
        .persist()
      kept.count()
      val co = kept.select(col("cust"), col("supp").as("s1"))
        .join(kept.select(col("cust"), col("supp").as("s2")), Seq("cust"))
        .filter(col("s1") < col("s2"))
      val root = co.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val p = root.toString
      val exchanges = root.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      val sorts = root.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(exchanges.isEmpty,
        s"self-join should reuse the cache's cust partitioning, saw " +
          s"${exchanges.length} exchange(s):\n$p")
      assert(sorts.isEmpty,
        s"self-join should reuse the cache's (cust, supp) ordering, saw " +
          s"${sorts.length} sort(s):\n$p")
      kept.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sim_pca scatter: outer product is chained codegen Generates, no interpreted lambdas (r15)") {
    import org.apache.spark.sql.functions.col
    val p = plan(SimOps.pcaScatterStage(embeddings(spark, sf0001)))
    // the corpus-sized stage must not build the 4096-element product
    // array with higher-order-function lambdas (CodegenFallback); the
    // fanout is two chained posexplode Generates
    assert(!p.contains("flatten(transform("),
      s"scatter still builds the outer product with interpreted HOF lambdas:\n$p")
    val gens = p.linesIterator.count(_.contains("Generate posexplode"))
    assert(gens >= 2, s"expected chained posexplode Generates, saw $gens:\n$p")
  }

  test("walk pair census: corpus arrives unsorted — no range exchange on the trainer path (r15)") {
    val corpus = GraphOps.walkCensusCorpus(
      orders(spark, sf0001), lineitem(spark, sf0001))
    val root = corpus.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val p = root.toString
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    val sorts = root.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(exchanges.isEmpty && sorts.isEmpty,
      s"census corpus should be the bare slice union over the per-hop " +
        s"checkpoints (the declared walk entries keep their orderBy), saw " +
        s"${exchanges.length} exchange(s) / ${sorts.length} sort(s):\n$p")
  }

  test("walk pair census: pivot + literal pair fanout — no self-join, no sort, no HOF lambdas (r15)") {
    import org.apache.spark.sql.functions._
    val census = GraphOps.walkPairsRaw(
      orders(spark, sf0001), lineitem(spark, sf0001))
    val root = census.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val p = root.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"census should pivot per walker, not self-join the corpus:\n$p")
    val sorts = root.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty, s"hash-agg pivot needs no sort, saw ${sorts.length}:\n$p")
    assert(!p.contains("transform("),
      s"pair fanout must be a literal struct array, not a HOF:\n$p")
  }

  test("walk pair census: pivot form matches the start_id self-join census row for row (r15)") {
    import org.apache.spark.sql.functions._
    val walks = GraphOps.walkCensusCorpus(
      orders(spark, sf0001), lineitem(spark, sf0001))
    val a = walks.select(col("start_id"), col("step").as("i"),
      col("node").as("center"))
    val b = walks.select(col("start_id"), col("step").as("j"),
      col("node").as("context"))
    val oldCensus = a.join(b, Seq("start_id"))
      .filter(col("i") =!= col("j") && abs(col("i") - col("j")) <= 2)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
    val newCensus = GraphOps.walkPairsRaw(
      orders(spark, sf0001), lineitem(spark, sf0001))
    val diff = oldCensus.exceptAll(newCensus).count() +
      newCensus.exceptAll(oldCensus).count()
    assert(diff == 0, s"pivot census diverged from the self-join census on $diff rows")
  }

  test("probe cells: native top_cells_l2 kernel matches the crossJoin+window ranking row for row (r15)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val eq = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), expr("transform(v, x -> cast(round(x * 1000) as bigint))").as("xq"))
    val cents = SimOps.kmeansCentroids(eq, k = 16, rounds = 2)
    // the r14 window form, reconstructed verbatim
    val d2 = aggregate(
      zip_with(col("xq"), col("cvec"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)
    val wProbe = Window.partitionBy("vec_id").orderBy(asc("d2"), asc("cid"))
    val oldForm = eq.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), d2.as("d2"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 8)
      .select(col("vec_id"), col("cid").cast("int").as("cell"))
    val newForm = SimOps.probeCells(eq, cents, nprobe = 8)
    val diff = oldForm.exceptAll(newForm).count() +
      newForm.exceptAll(oldForm).count()
    assert(diff == 0, s"top_cells_l2 diverged from the window ranking on $diff rows")
  }

  test("pq adc: native pq_encode_l2 scan matches the interpreted score-table form row for row (r15)") {
    import org.apache.spark.sql.functions._
    val (s, d) = (8, 8)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the r14 simPq tail, reconstructed verbatim
    val cb = e.filter(col("vec_id") < 16)
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv")))),
        t => t.getField("cv")).as("cents"))
    val scoreTables = transform(sequence(lit(0), lit(s - 1)), ss =>
      transform(col("cents"), c =>
        aggregate(
          zip_with(
            slice(col("v"), ss * d + 1, lit(d)), slice(c, ss * d + 1, lit(d)),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, z) => acc + z)))
    val scored = e.crossJoin(broadcast(cb)).select(
      col("vec_id"), col("v"), scoreTables.as("st"))
    val encOld = scored.select(col("vec_id"), col("v"),
      transform(col("st"), sc => array_position(sc, array_min(sc))).as("codes"))
    val qt = scored.filter(col("vec_id") === 0)
      .select(col("st").as("dt"), col("v").as("qv"))
    val lookup = aggregate(
      sequence(lit(0), lit(s - 1)), lit(0.0),
      (acc, ss) => acc + element_at(
        element_at(col("dt"), (ss + 1).cast("int")),
        element_at(col("codes"), (ss + 1).cast("int")).cast("int")))
    graft.plans.VectorFunctions.register(spark)
    def vdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.plans.VectorFunctions.vectorDot(a, b)
    val cosExact = vdot(col("v"), col("qv")) /
      (sqrt(vdot(col("v"), col("v"))) * sqrt(vdot(col("qv"), col("qv"))))
    val oldForm = encOld.crossJoin(broadcast(qt))
      .select(col("vec_id"), round(lookup, 6).as("adc_dist"),
        round(cosExact, 6).as("cos_exact"))
      .orderBy(asc("adc_dist"), asc("vec_id")).limit(10)
    val newForm = SimOps.simPq(spark.read.parquet(s"$sf0001/embeddings.parquet"))
    val diff = oldForm.exceptAll(newForm).count() +
      newForm.exceptAll(oldForm).count()
    assert(diff == 0, s"native PQ encode diverged from the score-table form on $diff rows")
  }

  test("hits hub matvec: authority vector joins the cached reverse adjacency BEFORE the explode (r15)") {
    import org.apache.spark.sql.functions._
    val (adjAll, _, _) = GraphOps.buildGraph(
      orders(spark, sf0001), lineitem(spark, sf0001))
    val adj = adjAll.filter(col("src") % 2 === 0)
    val radj = GraphOps.reverseAdjacency(adj)
    try {
      val a0 = adj.select(explode(col("dsts")).as("nid"))
        .distinct().select(col("nid"), lit(1.0).as("score")).localCheckpoint()
      val hraw = radj.join(a0, "nid")
        .select(explode(col("srcs")).as("src"), col("score"))
        .groupBy(col("src")).agg(sum(col("score")).as("s"))
      val p = plan(hraw)
      // the O(E) fanout must come from the cached nid-keyed role, after
      // the vector join — the r13 shape broadcast the exploded forward
      // adjacency every round instead
      assert(p.contains("InMemoryTableScan"),
        s"hub matvec no longer reads the cached reverse adjacency:\n$p")
      assert(p.contains("explode(srcs"),
        s"hub fanout is not the post-join srcs explode:\n$p")
    } finally {
      radj.unpersist()
      adjAll.unpersist()
    }
  }
}
