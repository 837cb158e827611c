package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Graph analytics over the relational tables — the §2.11 extension
  * family's "iterate a join + aggregate to a fixed depth" workload.
  * PageRank is the archetype: the same shape (message join on src,
  * aggregate on dst, rank update) is label propagation, connected
  * components (dedup_clusters), and belief propagation. The engine form
  * is DataFrame-native Pregel: edges are materialized ONCE and reused
  * every superstep; each superstep is one equi-join plus one hash
  * aggregate, both shuffling on compact long keys — no driver-side graph,
  * no per-vertex RDD closures, scales with the shuffle layer.
  *
  * ONE superstep regime — hint-free and partitioned: the adjacency table
  * is hash-partitioned by src ONCE at build and never re-shuffles; per
  * round only the O(V) rank vector moves (one compact-key alignment
  * exchange + the dst aggregate). No broadcast of the rank vector, no
  * single-partition collapse, so there is no scale cliff to gate: the
  * same plan serves 16 k nodes and billions. (A broadcast regime —
  * rank vector coalesced to one partition and broadcast into the join —
  * existed through round 4 as a small-graph optimization; after the
  * adjacency fold the hint-free loop measured FASTER even at sf0.1
  * (4.4 s vs 6.7 s for the 10-round query), so the scale-unsafe path
  * no longer paid for itself anywhere and was removed rather than
  * gated.)
  */
object GraphOps {

  /** The undirected trade graph as a bidirectional (src, dst) edge frame.
    * An undirected edge (both directions materialized) links a customer
    * to every supplier whose parts they ordered; node ids are disjoint by
    * parity (customers even, suppliers odd) so one long column carries
    * both sides. Both directions come out of ONE pass: each distinct
    * pair of [[tradePairs]] explodes map-side into its two directed
    * rows, so the orders⋈lineitem join + distinct (the build's widest
    * shuffles) run once with no checkpoint. No consumer could release
    * one made here, so its blocks (49 MB at sf0.1) would stay in the
    * block manager until the ContextCleaner collected them.
    */
  private[graft] def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    tradePairs(orders, lineitem)
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** The trade graph's distinct undirected pairs (c, s): customer 2·cust,
    * supplier 2·supp+1.
    */
  private def tradePairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()

  /** The adjacency FRAME alone — shared by the in-query cache path
    * (`buildGraph`) and the stored layout (`sinkGraphAdjacency`), which
    * persists the same rows as a src-bucketed table instead.
    */
  private[graft] def adjacencyFrame(
      orders: DataFrame, lineitem: DataFrame,
      chunkSize: Int = 65536): DataFrame =
    tradeEdges(orders, lineitem)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"), collect_list(col("dst")).as("all_dsts"))
      .select(col("src"), col("outdeg"),
        explode(transform(
          sequence(lit(0L), floor((size(col("all_dsts")) - 1) / lit(chunkSize))),
          i => slice(col("all_dsts"), (i * chunkSize + 1).cast("int"), lit(chunkSize)))).as("dsts"))

  /** Build the undirected trade graph once, as a per-src ADJACENCY table
    * — (src, outdeg, dsts: array<long>) — CACHED for superstep reuse
    * (the GraphX layout: edge partitions stored as per-vertex adjacency),
    * plus its node set and node count. The caller releases the returned
    * cache; the entries take it from `withGraph`.
    *
    * Cache rather than checkpoint because InMemoryTableScan preserves
    * the HashPartitioning the partitioned regime's join co-locates on,
    * while a checkpoint scan reports unknown partitioning (measured).
    * The adjacency fold matters for the loop: per round the engine scans
    * |V| adjacency rows instead of |E| edge rows (73× fewer here) and
    * fans back out to edges MAP-SIDE via explode — measured ~3× off the
    * whole 10-round loop at sf0.1 vs the flat cached edge list. The
    * groupBy(src)'s own shuffle IS the src pre-partitioning — one
    * shuffle builds layout, degrees, and adjacency together.
    * Bidirectional edges mean every node has out-degree ≥ 1 (no
    * dangling-mass correction, rank mass conserved — the spec pins
    * sum(rank) = 1) and in-degree ≥ 1 (the contribution aggregate covers
    * every node — no per-round left join).
    *
    * Skew note for 100 TB: a celebrity node's adjacency row is O(its
    * degree), so rows are SEGMENTED — `dsts` is sliced into chunks of
    * `chunkSize` map-side after the aggregate (explode of slices: a
    * Generate, no new exchange, src partitioning preserved). A 10⁷-degree
    * hub becomes ~deg/chunkSize bounded rows instead of one ~100 MB row
    * flowing through every superstep join; each chunk row carries the
    * TOTAL `outdeg`, so rank contributions divide by the true degree and
    * the per-dst re-aggregation the supersteps already do restores the
    * exact same sums. Nodes below `chunkSize` (all of them on this data)
    * keep exactly one row — the |V|-rows-per-round scan economy is
    * untouched.
    */
  private[graft] def buildGraph(
      orders: DataFrame, lineitem: DataFrame,
      chunkSize: Int = 65536): (DataFrame, DataFrame, Long) = {
    val adj = adjacencyFrame(orders, lineitem, chunkSize).persist()
    val nodes = nodesOf(adj)
    (adj, nodes, nodes.count())
  }

  // distinct because a hub spanning several chunk rows repeats its src;
  // the cache's src HashPartitioning makes this exchange-free
  private def nodesOf(adj: DataFrame): DataFrame =
    adj.select(col("src").as("id")).distinct()

  /** `buildGraph` scoped to `body`: runs it over the cached adjacency,
    * its node set and the node count (whose `count()` materializes the
    * cache), releasing the cache when `body` returns or throws.
    */
  private def withGraph[T](orders: DataFrame, lineitem: DataFrame)(
      body: (DataFrame, DataFrame, Long) => T): T =
    Materialize.releasing(adjacencyFrame(orders, lineitem).persist()) { adj =>
      val nodes = nodesOf(adj)
      body(adj, nodes, nodes.count())
    }

  /** Runs `body` over the stored adjacency layout (built here if this
    * session lacks it), pinned in the cache, and its node set; the cache
    * is released when `body` returns or throws.
    */
  private def withStoredAdjacency[T](
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String)(
      body: (DataFrame, DataFrame) => T): T = {
    val name = ensureAdjacencyTable(spark, orders, lineitem, sfDir)
    Materialize.releasing(spark.table(name).persist()) { adj =>
      body(adj, nodesOf(adj))
    }
  }

  private def finish(ranks: DataFrame): DataFrame =
    ranks
      .select(col("id").as("node_id"), round(col("rank"), 6).as("pr"))
      .orderBy(col("pr").desc, col("node_id"))
      .limit(100)

  /** The superstep loop — hint-free. Two reuse mechanisms,
    * chosen per role by MEASUREMENT:
    *  - the adjacency table (O(E), the side that must never move) is
    *    CACHED: an InMemoryTableScan preserves the build aggregate's src
    *    HashPartitioning (and AQE is barred from changing it —
    *    `canChangeCachedPlanOutputPartitioning` defaults false), so no
    *    round ever re-shuffles the graph. A checkpoint would lose the
    *    partitioning (a bare ExistingRDD scan reports unknown — measured).
    *  - the rank vector (O(V), the side DESIGNED to move) is
    *    localCheckpoint-chained: each round's checkpoint truncates the
    *    lineage, so round k plans against a flat scan. The alternative —
    *    persist-chaining ranks to keep their aggregate partitioning and
    *    co-locate the join exchange-free — was measured 5× SLOWER over
    *    10 rounds (0.5 s/round growing to ~2 s: the un-truncated logical
    *    plan nests every previous round's cache, and per-round planning/
    *    cache-lookup cost compounds), while the exchange it saves is one
    *    O(V) compact-key shuffle of the small side.
    * Per round, then: one small exchange aligning the rank vector to the
    * cached adjacency + the dst aggregate shuffle — no broadcast, no
    * coalesce(1), nothing O(E) in motion. (PlanSpec separately pins that
    * a superstep over partitioned inputs co-locates with a SINGLE
    * exchange and no broadcast — the at-scale join shape itself.)
    */
  private[graft] def loopPartitioned(adj: DataFrame, nodes: DataFrame, n: Long,
      rounds: Int, damping: Double): DataFrame = {
    // (r15 probe, reverted: leaving this init vector LAZY — a projection
    // over the cached adjacency's exchange-free distinct, consumed once
    // by round 1 — removes one job but benched wash-to-WORSE across an
    // ABAB subset A/B: pagerank mins 3.99/4.24 s checkpointed vs
    // 4.28/4.86 s lazy, stored twin 2.68/2.98 vs 2.79/3.51, control
    // pagerank_conv drifting both ways. The saved job is cheaper than
    // whatever the lazy distinct costs the round-1/2 planning, so the
    // checkpoint stays.)
    // checkpoint every SECOND superstep: each eager localCheckpoint is a
    // job barrier with fixed cost, and the lineage still truncates before
    // it compounds (the per-round form this replaces was the r4 fix for
    // UNBOUNDED lineage — the cadence keeps that property at half the
    // barriers)
    finish(Supersteps.last(nodes.select(col("id"), lit(1.0 / n).as("rank")),
      rounds, everySecond = true)((ranks, _) =>
      superstepPartitioned(adj, ranks, n, damping)))
  }

  /** The exit metric of the residual loops (pagerank, HITS): the L1
    * residual Σ|dr| of the round, observed on its checkpoint job.
    */
  private val residual: Column = coalesce(sum(col("dr")), lit(0.0))

  /** Driver-side replica of Spark's `round(x, 9)` for an observed
    * residual — the convergence loops compare their exit metric
    * against tol on the DRIVER, so the rounding must match what the
    * oracle's SQL `round(..., 9)` computed (BigDecimal HALF_UP over
    * the double's shortest decimal form, which is exactly Spark's
    * Round semantics). One definition so the pagerank/HITS exit-parity
    * discipline cannot drift apart.
    */
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One superstep over the adjacency table, exposed for the PlanSpec
    * pin: join the rank vector on src (co-located against the cached
    * adjacency partitioning when the rank side arrives aligned), fan
    * contributions out to dst MAP-SIDE via explode, partial+final sum on
    * the dst key — the only O(E) work of a round, none of it shuffled.
    */
  private[graft] def superstepPartitioned(
      adj: DataFrame, ranks: DataFrame, n: Long, damping: Double): DataFrame =
    adj.join(ranks, col("src") === col("id"))
      .select(explode(col("dsts")).as("dst"),
        (col("rank") / col("outdeg")).as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("c"))
      .select(col("dst").as("id"),
        (lit((1 - damping) / n) + lit(damping) * col("c")).as("rank"))

  /** PageRank with a FIXED round count (default 10) — deterministic and
    * oracle-pairable (the DuckDB oracle unrolls the same rounds as
    * chained CTEs).
    *
    * Scale note: each round's ranks are checkpointed so round k's plan
    * does not re-evaluate rounds 1..k-1. (The all-lazy alternative — one
    * 10-deep plan, no per-round action — was measured SLOWER: the stages
    * still execute serially and the deep plan adds analysis/AQE overhead
    * per stage.)
    */
  def graphPagerank(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 10, damping: Double = 0.85): DataFrame =
    withGraph(orders, lineitem)(loopPartitioned(_, _, _, rounds, damping))

  /** PageRank with CONVERGENCE-DETECTED early exit — the at-scale form
    * of `graphPagerank` (r8/r9 verdict carry-over): fixed-round loops
    * either under-converge or waste supersteps when graph diameter and
    * mixing time grow with the corpus, so the production loop watches
    * the L1 residual Σ|rank_r − rank_{r−1}| (total variation — scale-
    * free because Σrank = 1 at every round; here it decays as exactly
    * damping^r, so `tol` sets the round count logarithmically) and
    * stops at the first round where it drops below `tol`, with a
    * fail-loud `maxRounds` backstop (the dedup_clusters stance: a
    * silent truncation at the cap would be an under-converged result
    * presented as converged).
    *
    * Determinism across engines: ranks are RE-QUANTIZED to 9 decimals
    * after every superstep on BOTH engines (the HITS float-fixpoint
    * discipline), so the residual is arithmetic over identical decimals
    * and the exit-round comparison `delta < tol` can never diverge on
    * summation-order ulps; the residual itself is also rounded to 9
    * before the comparison, and `tol` (0.25 → exit at round 12 on this
    * graph, measured residuals 0.2928/0.2489 bracketing it at sf0.001/
    * 0.01/0.1) sits ≥1e-3 from the nearest residual — six orders of
    * magnitude of margin. The oracle unrolls to `maxRounds`, computes
    * the same per-round residuals, derives the same exit round IN SQL,
    * and selects that round's ranks — so the early-exit DYNAMICS are
    * oracle-checked, not just the final vector. Per-round cost: the
    * per-node |Δrank| is FUSED into the superstep's checkpoint job
    * (the new ranks join their predecessors on the compact key inside
    * the same plan) and the residual SUM is pulled out as an
    * `observe()` metric of that same job — ONE action per round, the
    * minimum any per-round exit decision can pay (r10: the two-action
    * form — checkpoint + separate residual aggregate — benched 5.2 s
    * vs fixed-round 2.9/3.3; detection must not cost extra jobs). The
    * driver replicates Spark's round(x, 9) via HALF_UP BigDecimal; the
    * ≥1e-3 margin between tol and the nearest residual makes the
    * comparison ulp-proof regardless.
    * Output: top-100 ranks at the exit round + the exit round itself.
    */
  def graphPagerankConv(orders: DataFrame, lineitem: DataFrame,
      maxRounds: Int = 16, tol: Double = 0.25,
      damping: Double = 0.85): DataFrame =
    withGraph(orders, lineitem) { (adj, nodes, n) =>
      val (states, exit) = Supersteps.converge[Double]("pagerank_conv",
          nodes.select(col("id"), lit(1.0 / n).as("rank")), maxRounds) { (s, _) =>
        val ranks = s.last
        (superstepPartitioned(adj, ranks, n, damping)
          .select(col("id"), round(col("rank"), 9).as("rank"))
          .join(ranks.select(col("id"), col("rank").as("prev")), "id")
          .select(col("id"), col("rank"), abs(col("rank") - col("prev")).as("dr")),
          Some(residual))
      }(d => round9(d) < tol)
      states.last
        .select(col("id").as("node_id"), round(col("rank"), 6).as("pr"),
          lit(exit.toLong).as("exit_round"))
        .orderBy(col("pr").desc, col("node_id"))
        .limit(100)
    }

  /** Connected components with CONVERGENCE-DETECTED early exit — the
    * min-label loop run to its FIXPOINT instead of a fixed hop count:
    * stop at the first round where ZERO labels changed (an exact integer
    * count — no float tolerance, so the exit round is deterministic by
    * construction on both engines), fail-loud `maxRounds` backstop. The
    * exit round is genuinely data-dependent (measured 3/4/5 at
    * sf0.001/0.01/0.1 — label-propagation depth grows with the graph,
    * which is exactly why a fixed round count is wrong at 100×), and
    * the oracle derives it from the same per-round change counts
    * unrolled in SQL; its census reads the `maxRounds` table, which
    * equals the exit-round table because a fixpoint is invariant under
    * further hops — so engine-side early exit and oracle-side full
    * unroll provably agree. Per-round cost: the changed-label flag is
    * FUSED into the propagation join itself (`nbr < label` falls out
    * of the same row) and the change COUNT is an `observe()` metric of
    * the checkpoint job — ONE action per round, no second job for
    * detection (r10: the two-action form benched 2.76 s while fixed-8
    * ran ~1.9 — a fixpoint loop that exits three rounds EARLIER must
    * not bench slower); the count is an exact integer, so the exit
    * decision is deterministic by construction.
    * Output: the component census + the exit round.
    */
  def graphComponentsConv(orders: DataFrame, lineitem: DataFrame,
      maxRounds: Int = 8): DataFrame =
    withGraph(orders, lineitem) { (adj, nodes, _) =>
      val (states, exit) = Supersteps.converge[Long]("components_conv",
          nodes.select(col("id"), col("id").as("label")), maxRounds) { (s, _) =>
        (minLabelHop(adj, s.last), Some(Supersteps.changed))
      }(_ == 0L)
      states.last
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
        .select(col("component"), col("n_nodes"), col("min_node"),
          lit(exit.toLong).as("exit_round"))
        .orderBy("component")
    }

  /** Fixed-round synchronous min-label propagation over the trade graph —
    * the connected-components kernel on the SAME cached adjacency layout
    * as PageRank (the point: one graph build serves the whole iterative
    * family). Each round every node takes the min of its own label and
    * its in-neighbors' (bidirectional edges ⇒ in-neighbors exist for all
    * nodes): one explode fan-out, one min-aggregate on the dst key, one
    * equi-join back — all compact-key, nothing O(E) shuffled.
    *
    * FIXED rounds (default 8), not fixpoint, so the result is exactly
    * "labels after N hops" — deterministic at any round count (min is
    * exact), hence oracle-pairable via unrolled CTEs; the fixture spec
    * proves two seeded components stay separated while each converges.
    * The engine's fixpoint variant (convergence-detected, fail-loud
    * backstop) is `dedup_clusters` — this entry demonstrates the bounded
    * -hop form a 100 TB pipeline runs when the diameter is known small.
    * Output: per-component census (component = min node id reachable in
    * N hops, size, and the smallest member as a join-back handle).
    */
  def graphComponents(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 8): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) => componentsLoop(adj, nodes, rounds))

  /** The min-label loop + census, shared by the in-query build and the
    * stored-layout serving path (both hand in a persisted adjacency).
    */
  private def componentsLoop(
      adj: DataFrame, nodes: DataFrame, rounds: Int): DataFrame =
    // every-second-hop checkpoint cadence (the loopPartitioned trade)
    Supersteps.last(nodes.select(col("id"), col("id").as("label")),
        rounds, everySecond = true)((labels, _) =>
      minLabelHop(adj, labels).select("id", "label"))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
      .orderBy("component")

  /** One min-label hop, shared by the fixed and the converging
    * components loops: every node takes the least of its label and its
    * in-neighbors' labels (one explode fan-out, one min-aggregate on the
    * dst key, one equi-join back); `chg` flags the nodes whose label fell
    * — fused into the propagation join, so the converging loop's exit
    * count needs no second job.
    */
  private def minLabelHop(adj: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = adj.join(labels, col("src") === col("id"))
      .select(explode(col("dsts")).as("nid"), col("label").as("nl"))
      .groupBy(col("nid"))
      .agg(min(col("nl")).as("nbr"))
    labels.join(nbrMin, col("id") === col("nid"))
      .select(col("id"), least(col("label"), col("nbr")).as("label"),
        (col("nbr") < col("label")).as("chg"))
  }

  /** Connected components SERVED from the stored layout — the second
    * iterative consumer of `sink_graph_adjacency` (same oracle as
    * graph_components): one layout write amortizes across the family.
    */
  def graphComponentsStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 8): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(componentsLoop(_, _, rounds))

  /** Multi-source BFS — shortest hop distance from a seed set (every
    * node with id % 64 == 0, a stand-in for "flagged accounts" /
    * "trusted roots"), bounded to `rounds` hops: the third member of the
    * iterative family on the SAME cached adjacency, with min-PLUS
    * semantics (dist+1 per hop) where components uses plain min. One
    * explode fan-out + one min-aggregate + one alignment join per round,
    * all compact long keys — identical per-round cost profile to the
    * other two, so the shared-adjacency design carries a third workload
    * for free.
    *
    * Unreached nodes carry a 999999 sentinel instead of NULL — `least`
    * over the sentinel is the same arithmetic everywhere, where
    * NULL-skipping `least` semantics differ between engines; the sentinel
    * is a fixpoint under +1/min (min over in-neighbors of 999999 exceeds
    * it, so `least` keeps 999999 exactly). Fixed rounds ⇒ deterministic
    * "distance within N hops" semantics, oracle-paired via unrolled CTEs
    * (the components/pagerank precedent). Output: census per distance
    * ring, sentinel presented as -1.
    */
  def graphBfs(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 6): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) => bfsLoop(adj, nodes, rounds))

  /** BFS served from the stored bucketed adjacency — with this, every
    * iterative algorithm in the family (pagerank, components, LPA, HITS,
    * modularity, BFS) has a loop-only serving path off the one layout.
    */
  def graphBfsStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 6): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(bfsLoop(_, _, rounds))

  private def bfsLoop(adj: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    val INF = 999999L
    val init = nodes.select(col("id"),
      when(col("id") % 64 === 0, lit(0L)).otherwise(lit(INF)).as("dist"))
    // every-second-hop checkpoint cadence (the loopPartitioned trade)
    Supersteps.last(init, rounds, everySecond = true) { (dist, _) =>
      val nbr = adj.join(dist, col("src") === col("id"))
        .select(explode(col("dsts")).as("nid"), (col("dist") + 1).as("nd"))
        .groupBy(col("nid"))
        .agg(min(col("nd")).as("nbr"))
      dist.join(nbr, col("id") === col("nid"))
        .select(col("id"), least(col("dist"), col("nbr")).as("dist"))
    }
      .groupBy(when(col("dist") >= INF, lit(-1L)).otherwise(col("dist")).as("hops"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
      .orderBy("hops")
  }

  /** BETWEENNESS centrality, sampled-source Brandes — the shortest-path
    * centrality kernel (bridge/broker detection: which suppliers sit on
    * the paths between market segments). Exact betweenness is O(V·E)
    * and cannot ship at 100 TB; the standard estimator (Brandes 2001 §4
    * pivots) runs the two-phase pass from a FIXED sample of sources and
    * sums their dependency contributions — O(k·E) with k constant, so
    * the cost scales with the corpus, not corpus², and the sample size
    * is an explicit precision dial. Sources here are the `nSeeds`
    * smallest ids ≡ 0 (mod `seedMod`) — deterministic, and the same
    * id-class the BFS entry seeds, so the two entries share their scan
    * pattern. Hops are bounded by `maxRounds` (the graphBfs
    * "within-N-hops" semantics; the trade graph's diameter fits).
    *
    * Phase 1 (forward): per (seed, node), BFS distance and the
    * shortest-path COUNT σ — σ is a sum over predecessor-frontier
    * σ values, integer-exact, accumulated per ring with a left-anti
    * join against the settled set (state is k·V rows, k constant).
    * Phase 2 (backward): dependencies δ accumulate ring by ring from
    * the deepest layer — δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) over v's
    * successors w one ring out; each layer is one edge join + one
    * aggregate, and δ is RE-QUANTIZED to 9 decimals per layer on both
    * engines (the HITS float-fixpoint discipline), so the layered sums
    * can never diverge on ulps. Betweenness(v) = Σ_seeds δ_seed(v),
    * rounded to 6 BEFORE the top-50 cut (round-before-cut). The oracle
    * unrolls both phases as CTE chains — forward rings with NOT EXISTS
    * settlement, backward layers from maxRounds down.
    */
  def graphBetweenness(orders: DataFrame, lineitem: DataFrame,
      seedMod: Int = 64, nSeeds: Int = 8, maxRounds: Int = 6): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) =>
      betweennessOf(adj, nodes, seedMod, nSeeds, maxRounds))

  /** Betweenness served from the stored bucketed adjacency — the new
    * family member keeps the invariant that EVERY iterative algorithm
    * has a loop-only serving path off the one layout (same oracle as
    * graph_betweenness).
    */
  def graphBetweennessStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      seedMod: Int = 64, nSeeds: Int = 8, maxRounds: Int = 6): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(
      betweennessOf(_, _, seedMod, nSeeds, maxRounds))

  /** HARMONIC closeness centrality from the sampled seeds — the other
    * classic shortest-path centrality, sharing `forwardRings` with
    * betweenness (one machinery, two centralities): C(v) = Σ_seeds
    * 1/d(seed, v) over the seeds that reach v within the hop bound
    * (harmonic rather than classic closeness because it is
    * well-defined under partial reachability — unreached seeds
    * contribute 0, no infinite-distance special case). `n_reach`
    * (how many sampled seeds reach v) rides along as the estimator's
    * per-node confidence audit. Same estimator economics as
    * betweenness: O(k·E), k the precision dial.
    */
  def graphCloseness(orders: DataFrame, lineitem: DataFrame,
      seedMod: Int = 64, nSeeds: Int = 8, maxRounds: Int = 6): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) =>
      closenessOf(adj, nodes, seedMod, nSeeds, maxRounds))

  /** Closeness served from the stored bucketed adjacency — same oracle
    * as graph_closeness (the stored-serving invariant).
    */
  def graphClosenessStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      seedMod: Int = 64, nSeeds: Int = 8, maxRounds: Int = 6): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(
      closenessOf(_, _, seedMod, nSeeds, maxRounds))

  private def closenessOf(adj: DataFrame, nodes: DataFrame,
      seedMod: Int, nSeeds: Int, maxRounds: Int): DataFrame = {
    val (rings, deepest, _) =
      forwardRings(adj, nodes, seedMod, nSeeds, maxRounds)
    if (deepest == 0) // seeds have no edges: nothing is reached
      rings(0).select(col("id").as("node_id"),
        lit(0.0).as("closeness"), lit(0L).as("n_reach")).limit(0)
    else (1 to deepest).map(rings(_)).reduce(_ unionByName _)
      .groupBy(col("id").as("node_id"))
      .agg(
        round(sum(lit(1.0) / col("dist")), 6).as("closeness"),
        count(lit(1)).as("n_reach"))
      .orderBy(col("closeness").desc, col("node_id"))
      .limit(50)
  }

  /** The forward phase shared by every sampled-seed path algorithm
    * (betweenness' σ-counting pass and harmonic closeness): per
    * (seed, node) BFS distance + shortest-path count, rings settled by
    * anti-join, each ring checkpointed and ADDRESSABLE by distance.
    * Returns (rings by distance, deepest non-empty distance, seeds).
    */
  private def forwardRings(adj: DataFrame, nodes: DataFrame,
      seedMod: Int, nSeeds: Int, maxRounds: Int)
      : (scala.collection.mutable.Map[Int, DataFrame], Int, DataFrame) = {
    val seeds = nodes.filter(col("id") % seedMod === 0)
      .orderBy("id").limit(nSeeds).select(col("id").as("seed"))
      .localCheckpoint()
    val rings = scala.collection.mutable.Map[Int, DataFrame]()
    rings(0) = seeds.select(col("seed"), col("seed").as("id"),
      lit(0).as("dist"), lit(1L).as("sigma")).localCheckpoint()
    var all = rings(0)
    var frontier = rings(0)
    var r = 0
    var exhausted = false
    while (r < maxRounds && !exhausted) {
      r += 1
      val expanded = adj.join(frontier, col("src") === col("id"))
        .select(col("seed"), explode(col("dsts")).as("nid"), col("sigma"))
        .groupBy(col("seed"), col("nid"))
        .agg(sum(col("sigma")).as("sigma"))
      val settled = all.select(col("seed").as("s2"), col("id").as("n2"))
      // ring size rides the checkpoint
      val (ring, ringSize) = Supersteps.observed[Long](s"btw_ring_$r", expanded.join(settled,
          col("seed") === col("s2") && col("nid") === col("n2"), "left_anti")
        .select(col("seed"), col("nid").as("id"), lit(r).as("dist"), col("sigma")),
        count(lit(1)))
      if (ringSize == 0L) {
        exhausted = true // graph ran out before the hop bound
      } else {
        rings(r) = ring
        // lazy union of per-ring checkpoints: each piece is already
        // materialized; re-checkpointing the growing union would
        // re-write all prior rings every round
        all = all.unionByName(ring)
        frontier = ring
      }
    }
    (rings, if (exhausted) r - 1 else r, seeds)
  }

  private def betweennessOf(adj: DataFrame, nodes: DataFrame,
      seedMod: Int, nSeeds: Int, maxRounds: Int): DataFrame = {
    val (rings, deepest, seeds) =
      forwardRings(adj, nodes, seedMod, nSeeds, maxRounds)
    // ---- backward: dependency layers from the deepest ring in ----
    // Unlike the forward phase (whose per-ring Observation read IS an
    // action), the backward layer count is fixed — no per-layer
    // decision — so its checkpoints can be LAZY (materialize inside the
    // first consuming job instead of one eager job barrier per layer;
    // A/B'd against eager checkpoints at sf0.1, BASELINE.md r11).
    var layerAbove = rings(deepest)
      .select(col("seed"), col("id"), lit(0.0).as("delta"))
      .localCheckpoint(eager = false)
    var acc = layerAbove
    // the O(E) edge fan-out feeds every layer join: materialize it once
    val edges = adj.select(col("src"), explode(col("dsts")).as("dst"))
      .localCheckpoint()
    for (layer <- (deepest - 1) to 1 by -1) {
      val wterm = layerAbove
        .join(rings(layer + 1)
          .select(col("seed"), col("id"), col("sigma").as("wsigma")),
          Seq("seed", "id"))
        .select(col("seed"), col("id").as("wid"),
          ((lit(1.0) + col("delta")) / col("wsigma")).as("wterm"))
      val contrib = edges.join(wterm, col("dst") === col("wid"))
        .select(col("seed"), col("src").as("id"), col("wterm"))
      val layerR = rings(layer)
        .select(col("seed"), col("id"), col("sigma"))
        .join(contrib, Seq("seed", "id"), "left")
        .groupBy(col("seed"), col("id"))
        .agg(round(coalesce(sum(col("sigma") * col("wterm")), lit(0.0)), 9)
          .as("delta"))
      val layerC = layerR.localCheckpoint(eager = false)
      acc = acc.unionByName(layerC)
      layerAbove = layerC
    }
    acc
      .join(seeds.select(col("seed").as("seed_id")),
        col("id") === col("seed_id"), "left_anti")
      .groupBy(col("id").as("node_id"))
      .agg(round(sum(col("delta")), 6).as("bc"))
      .orderBy(col("bc").desc, col("node_id"))
      .limit(50)
  }

  /** Triangle counting over the supplier co-purchase graph — the second
    * classic iterative-analytics kernel (community density, spam/fraud
    * motifs) and a deliberately DIFFERENT join shape from PageRank: not a
    * loop but a two-hop wedge join plus a closing semi-join.
    *
    * Graph: suppliers link when their shared-customer count reaches the
    * 99th PERCENTILE of all co-purchase counts — a scale-adaptive rule
    * (purchasing here is near-uniform, so any fixed absolute threshold
    * yields either the complete graph or the empty one, at every scale
    * factor; the top-percentile rule always extracts the strongest 1% of
    * relationships). The percentile is the exact interpolating one, so
    * DuckDB's quantile_cont reproduces it bit-for-bit (the agg_median
    * precedent). The co-purchase projection (postings self-join on the
    * customer key) is the quadratic hazard — per-customer cost is deg² —
    * so hub customers are capped (deg ≤ 256, the LSH `maxBucket` rule;
    * a no-op on this data, the guard that keeps 100 TB linear-ish), and
    * the oracle applies the identical cap.
    *
    * Counting: edges oriented by id (s1 < s2) make each triangle appear
    * as exactly one wedge a<b<c (join on the shared middle b) closed by
    * one (a,c) semi-join — no triangle is double-counted and no
    * all-pairs stage exists; every join key is a compact int. Output:
    * top-10 suppliers by triangle participation.
    */
  def graphTriangles(orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int = 256, pct: Double = 0.99): DataFrame = {
    val co = withCappedPairs(orders, lineitem, maxCustDeg)(sharedCounts)
    val thr = co.agg(percentile(col("shared"), lit(pct)).as("t"))
    // localCheckpoint: the edge list feeds THREE consumers (both wedge
    // sides + the closing semi-join); without materialization each one
    // re-runs the whole co-purchase projection — measured 3× the
    // operator's cost at sf0.1. The edge list itself is tiny (top-1% of
    // supplier pairs), so the checkpoint is cheap at any scale.
    val edges = co.crossJoin(broadcast(thr))
      .filter(col("shared") >= col("t"))
      .select("s1", "s2")
      .localCheckpoint()
    val wedges = edges.select(col("s1").as("a"), col("s2").as("b"))
      .join(edges.select(col("s1").as("b"), col("s2").as("c")), Seq("b"))
    val tri = wedges.join(
      edges.select(col("s1").as("a"), col("s2").as("c")),
      Seq("a", "c"), "left_semi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("supp_id"))
      .groupBy(col("supp_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), asc("supp_id"))
      .limit(10)
  }

  /** The customer→supplier pair table without hub customers (degree
    * above `maxCustDeg`), cached for `body` and released when it returns
    * or throws. Cached PARTITIONED+SORTED on the self-join key (r14, the
    * biasedEdgeRoles treatment): the table feeds both sides of the deg²
    * self-join — a plain localCheckpoint reports unknown partitioning,
    * so the join re-exchanged and re-sorted the frame per side; the
    * clustered cache makes the self-join exchange-free AND sort-free.
    * Left lazy instead, the orders⋈lineitem distinct (the operator's
    * widest shuffle) runs twice. One row per (cust, supp) — compact at
    * any scale.
    */
  private def withCappedPairs[T](orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int)(body: DataFrame => T): T = {
    val pairs = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val smallCust = pairs.groupBy(col("cust"))
      .agg(count(lit(1)).as("cdeg"))
      .filter(col("cdeg") <= maxCustDeg)
      .select("cust")
    Materialize.releasing(pairs.join(smallCust, "cust")
      .repartition(col("cust")).sortWithinPartitions("cust", "supp")
      .persist())(body)
  }

  /** Supplier co-purchase counts (s1 < s2, shared) off the cached pair
    * table, checkpointed: the aggregate feeds TWO consumers (the
    * percentile threshold and the edge filter); without materialization
    * the deg²-cost projection runs twice — measured ~40% of the operator
    * at sf0.1. The materialized side is the AGGREGATED pair table (one
    * row per supplier pair, already deg²-collapsed), not the wedge
    * stream; at 100 TB the same point in the plan persists with disk
    * spill instead.
    */
  private def sharedCounts(kept: DataFrame): DataFrame =
    kept.select(col("cust"), col("supp").as("s1"))
      .join(kept.select(col("cust"), col("supp").as("s2")), Seq("cust"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .localCheckpoint()

  /** Common-neighbor LINK PREDICTION — Jaccard similarity of supplier
    * customer-sets (the classic "suppliers serving the same buyers"
    * recsys/market-structure signal): top-20 supplier pairs by
    * |common customers| / |union|. Same deg-capped co-purchase
    * projection as `graphTriangles` (hub customers ≤ 256 keep the
    * self-join deg²-bounded); the pair stream collapses in ONE hash
    * aggregate, degree vectors join back on compact supplier keys, and
    * the top-20 is TakeOrderedAndProject. Rounded score + (a, b)
    * tie-break make the cut deterministic on both engines.
    */
  def graphJaccard(orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int = 256, k: Int = 20): DataFrame = {
    // the pair table feeds the self-join AND the degree table; both are
    // checkpointed EAGERLY (aggregated, bounded frames: one row per
    // co-purchased pair / per supplier) while its cache is still live
    val (co, deg) = withCappedPairs(orders, lineitem, maxCustDeg) { kept =>
      (sharedCounts(kept),
        kept.groupBy(col("supp")).agg(count(lit(1)).as("deg")).localCheckpoint())
    }
    co
      .join(deg.select(col("supp").as("s1"), col("deg").as("deg_a")), "s1")
      .join(deg.select(col("supp").as("s2"), col("deg").as("deg_b")), "s2")
      .select(col("s1"), col("s2"), col("shared"),
        round(col("shared").cast("double") /
          (col("deg_a") + col("deg_b") - col("shared")), 6).as("jac"))
      .orderBy(desc("jac"), asc("s1"), asc("s2"))
      .limit(k)
  }

  /** Synchronous LABEL PROPAGATION community detection over the trade
    * graph — the fourth member of the iterative family on the SAME
    * cached adjacency as pagerank/components/bfs, with MODE semantics
    * where components uses plain min: each round every node adopts the
    * most frequent label among its in-neighbors, ties broken by the
    * smallest label (the deterministic LPA variant — async/random-order
    * LPA is not oracle-able). Per round: one explode fan-out, one
    * (node, label) count aggregate, one max-of-struct top-1 per node
    * (highest count, then smallest label, encoded as max(struct(c,
    * -label)) so ONE hash aggregate replaces a window sort), one
    * alignment join back — all compact long keys, nothing O(E²).
    *
    * FIXED rounds (default 4), not fixpoint ⇒ deterministic "labels
    * after N mode-hops", oracle-paired via unrolled CTEs where each
    * round is a grouped count topped by row_number (the components /
    * bfs precedent). Round 1 degenerates to min (all vote counts are 1
    * on a simple graph); real mode dynamics start at round 2 once
    * neighbors share labels. Output: per-community census.
    */
  def graphLabelProp(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 4): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) => labelPropLoop(adj, nodes, rounds))

  /** ONE synchronous mode-vote round: grouped in-neighbor label counts
    * topped by max(struct(count, -label)) — the mode with smallest-label
    * tie-break, one aggregate chain, no per-round window sort. Shared by
    * the fixed-round loop and the convergence-detected form so the vote
    * semantics cannot drift apart.
    */
  private def lpaVote(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels, col("src") === col("id"))
      .select(explode(col("dsts")).as("nid"), col("label").as("nl"))
      .groupBy(col("nid"), col("nl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("nid"))
      .agg(max(struct(col("c"), (-col("nl")).as("negl"))).as("t"))
      .select(col("nid").as("id"), (-col("t.negl")).as("label"))

  /** The mode-vote loop alone — returns the final (id, label) frame;
    * shared by the census entries and the modularity scorer.
    */
  private def lpaLabels(
      adj: DataFrame, nodes: DataFrame, rounds: Int): DataFrame =
    // bidirectional edges ⇒ every node has in-neighbors ⇒ the vote
    // output covers exactly the node set, so the r13 alignment join
    // back (labels.select("id") ⋈ vote) was an identity — dropped in
    // r14 (one exchange + join per round saved; same frame).
    // per-ROUND checkpoint: `labels` feeds the next vote round AND the
    // caller's census — a lazy round re-pays the whole two-aggregation
    // vote chain per consumer (the multi-consumer pathology measured
    // for HITS, 17.6 s lazy vs 8.3 s; the every-second-hop cadence
    // here measured 17.1 s vs ~4.3 s per-round at sf0.1, BASELINE r9)
    Supersteps.last(nodes.select(col("id"), col("id").as("label")), rounds)(
      (labels, _) => lpaVote(adj, labels))

  /** The mode-vote loop + census, shared by the in-query build and the
    * stored-layout serving path (the componentsLoop convention).
    */
  private def labelPropLoop(
      adj: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    lpaLabels(adj, nodes, rounds)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
      .orderBy("community")
  }

  /** Label propagation with CONVERGENCE-DETECTED early exit — completing
    * the `_conv` family (pagerank/components/hits). The naive fixpoint
    * test (zero labels changed, the components criterion) NEVER fires
    * here: synchronous LPA on a bipartite graph settles into a PERIOD-2
    * OSCILLATION, not a fixpoint — measured on the trade graph, the
    * per-round change count is constant (160/1,600/~16k at sf0.001/
    * 0.01/0.1) forever. The correct at-scale criterion is ORBIT
    * detection: stop at the first round r where labels(r) == labels(r−2)
    * element-wise — a period-≤2 orbit is invariant under two more votes,
    * so the state can never change again (period 1, a true fixpoint, is
    * the special case labels(r)==labels(r−1)⊆labels(r−2) chain). The
    * exit is genuinely data-dependent — measured round 4/5/6 at
    * sf0.001/0.01/0.1, growing with graph size, which is exactly why a
    * fixed round count is wrong at 100× — and the compared quantity is
    * an exact INTEGER count of differing labels, so the exit round is
    * deterministic by construction on both engines (no float tolerance).
    * Per-round cost: the vote is the shared `lpaVote` kernel; the
    * labels(r)≠labels(r−2) flag falls out of one compact-key join
    * against the r−2 frame and the COUNT is an `observe()` metric of
    * the checkpoint action — ONE job per round, the conv-family floor.
    * Fail-loud `maxRounds` backstop (exit 6 at sf0.1 vs backstop 10).
    * Output: the census over the labeling AT the exit round plus the
    * exit round itself — so the conv form run on a graph that exits at
    * round E reproduces the fixed-round form run for E rounds exactly
    * (the pagerank_conv identity discipline; the spec pins it). The
    * orbit-MERGED alternative (least of the two phases per node) was
    * probed and rejected: on the trade graph it collapses the whole
    * census to the single min label — deterministic but structure-free.
    * Oracle: the unrolled vote CTEs with per-round labels(i)≠labels(i−2)
    * counts, the exit round derived IN SQL as the first zero, and the
    * census taken over that round's labels selected from the union of
    * all rounds — the early-exit dynamics are what's checked.
    */
  def graphLabelPropConv(orders: DataFrame, lineitem: DataFrame,
      maxRounds: Int = 10): DataFrame =
    withGraph(orders, lineitem) { (adj, nodes, _) =>
      // the vote output covers exactly the node set (bidirectional edges),
      // so the r13 alignment joins back were identities — dropped in r14
      // (the lpaLabels reasoning); round 1 has no r−2 labeling to compare
      val (states, exit) = Supersteps.converge[Long]("label_prop_conv",
          nodes.select(col("id"), col("id").as("label")), maxRounds) { (s, r) =>
        val vote = lpaVote(adj, s.last)
        if (r == 1) (vote, None)
        else (vote.join(s(r - 2).select(col("id"), col("label").as("old2")), "id")
          .select(col("id"), col("label"), (col("label") =!= col("old2")).as("chg")),
          Some(Supersteps.changed))
      }(_ == 0L)
      states.last
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_node"))
        .select(col("community"), col("n_nodes"), col("min_node"),
          lit(exit.toLong).as("exit_round"))
        .orderBy("community")
    }

  /** Label propagation SERVED from the stored bucketed layout — the third
    * iterative consumer of `sink_graph_adjacency` (same oracle as
    * graph_label_prop): one layout write amortizes across the family.
    */
  def graphLabelPropStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 4): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(labelPropLoop(_, _, rounds))

  /** MODULARITY of the LPA communities — the quality score that makes
    * community detection quantitative (Newman's Q = Σ_c [e_c/m −
    * (a_c/2m)²]: intra-community edge fraction minus the random-graph
    * expectation). Labels come from the same fixed-round LPA loop; the
    * sufficient statistics are EXACT INTEGER sums — intra-community
    * directed-edge count per label and total degree per label — joined
    * on compact keys, with the double closed form entering only at the
    * final per-community row (the agg_regression boundary discipline).
    * Cost beyond the LPA loop: one edge-label join + two bounded
    * aggregates. Output: per-community size, edge/degree masses, and
    * contribution to Q, plus the corpus Q on every row (window over the
    * bounded community table).
    */
  def graphModularity(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 4): DataFrame =
    withGraph(orders, lineitem)((adj, nodes, _) => modularityOf(adj, nodes, rounds))

  /** Modularity SERVED from the stored bucketed adjacency — the seventh
    * iterative consumer of `sink_graph_adjacency` (same oracle as
    * graph_modularity).
    */
  def graphModularityStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 4): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)(modularityOf(_, _, rounds))

  private def modularityOf(adj: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    val labels = lpaLabels(adj, nodes, rounds)
    // directed edge list with both endpoint labels; 2m = total directed
    // edges (the graph stores both orientations)
    val edges = adj.select(col("src"), explode(col("dsts")).as("dst"))
    val withL = edges
      .join(labels.select(col("id").as("src"), col("label").as("sl")), "src")
      .join(labels.select(col("id").as("dst"), col("label").as("dl")), "dst")
    // bounded per-community sufficient statistics, MATERIALIZED while the
    // adjacency cache is still alive (everything below is lazy — a
    // release before a checkpoint would silently re-pay the edge scan)
    val byComm = withL
      .groupBy(col("sl").as("community"))
      .agg(
        count(lit(1)).as("deg_mass"), // Σ out-degrees = a_c · (2m scale)
        sum(when(col("sl") === col("dl"), 1L).otherwise(0L)).as("intra_edges"))
      .localCheckpoint()
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    // 2m from the community table itself — no second edge scan
    val m2 = byComm.agg(sum(col("deg_mass")).as("m2"))
    val contrib = col("intra_edges").cast("double") / col("m2") -
      (col("deg_mass").cast("double") / col("m2")) *
      (col("deg_mass").cast("double") / col("m2"))
    byComm
      .join(sizes, "community")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("deg_mass"), round(contrib, 6).as("q_contrib"),
        round(sum(contrib).over(
          org.apache.spark.sql.expressions.Window.partitionBy()), 4).as("q_total"))
      .orderBy("community")
  }

  /** HITS hubs & authorities over the DIRECTED customer→supplier trade
    * graph — the mutual-recursion kernel (hub score = sum of pointed-to
    * authority scores and vice versa) that degenerates on undirected
    * graphs, so this entry consumes only the even-src (customer→
    * supplier) half of the shared adjacency: customers are hubs,
    * suppliers authorities. Per round: two explode+aggregate matvecs on
    * the cached adjacency + two L1 normalizations (a scalar aggregate
    * broadcast back — never a driver pull). Scores are RE-QUANTIZED to
    * 9 decimals after every normalization on BOTH engines, so float
    * summation-order ulps can never compound across rounds into the
    * rounded output (the dedup_semantic re-sync stance applied to a
    * float fixpoint loop). Output: top-10 per side.
    */
  def graphHits(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = 6): DataFrame =
    withGraph(orders, lineitem)((adjAll, _, _) => hitsLoop(adjAll, rounds))

  /** HITS served from the stored bucketed adjacency — the SIXTH
    * iterative consumer of `sink_graph_adjacency` (same oracle as
    * graph_hits; the directed half is a filter on the stored rows).
    */
  def graphHitsStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 6): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir)((adjAll, _) =>
      hitsLoop(adjAll, rounds))

  /** HITS with CONVERGENCE-DETECTED early exit — completing the
    * convergence story for the costliest iterative loop (pagerank and
    * components got their `_conv` forms first; HITS is the power
    * iteration with the widest eigengap, so fixed-6 rounds OVERPAYS on
    * every tested graph: measured authority L1 residuals drop ~100×
    * per round and cross 1e-6 at round 4/5/5 on sf0.001/0.01/0.1 —
    * the exit round grows with the graph, the fixed count doesn't).
    * Exit rule: first round r ≥ 2 whose authority residual
    * Σ|a_r − a_{r−1}| < tol (authorities determine hubs within the
    * round, so one side's convergence is the pair's); residual is
    * arithmetic over the 9-quantized scores on BOTH engines and tol
    * sits ≥4.4× from the nearest measured residual — ulp-proof. The
    * residual rides the authority checkpoint as an observe() metric
    * (one action, the pagerank_conv economics); the hub matvec still
    * runs on the exit round because the output needs both sides at r.
    * Fail-loud maxRounds backstop; oracle unrolls to maxRounds,
    * derives the exit round from the same residual CTEs, and selects
    * BOTH sides at that round.
    */
  def graphHitsConv(orders: DataFrame, lineitem: DataFrame,
      maxRounds: Int = 10, tol: Double = 1e-6): DataFrame =
    withGraph(orders, lineitem) { (adjAll, _, _) =>
      val adj = adjAll.filter(col("src") % 2 === 0)
      Materialize.releasing(reverseAdjacency(adj)) { radj =>
        // residuals start at round 2: round 1 has no predecessor vector
        val (states, exit) = Supersteps.converge[Double]("hits_conv",
            hitsInit(adj), maxRounds, settle = Some(hitsHub(radj, _))) { (s, r) =>
          val a = hitsAuthority(adj, s.last)
          if (r == 1) (a, None)
          else (a.join(s(s.length - 2).select(col("id"), col("score").as("prev")), "id")
            .select(col("id"), col("score"), abs(col("score") - col("prev")).as("dr")),
            Some(residual))
        }(d => round9(d) < tol)
        hitsTop(states(states.length - 2), states.last, Some(exit))
      }
    }

  /** REVERSE adjacency of the directed customer→supplier half —
    * (nid, srcs: array<long>), the hub matvec's static side, cached
    * partitioned on ITS join key (r15, §2.4 — the biasedEdgeRoles
    * treatment): the groupBy(nid)'s own shuffle IS the nid partitioning,
    * paid once per loop. Before, each round's hub matvec exploded the
    * FORWARD adjacency and joined the authority vector post-explode —
    * the planner broadcast the exploded O(E) frame EVERY round
    * (plans/r15/graph_hits_round_hub_before.txt: BroadcastExchange over
    * Generate+InMemoryTableScan, 13.9 MiB at sf0.1) — a per-round O(E)
    * broadcast build that is also scale-unsafe sized. Now the round
    * joins the O(V) authority vector BEFORE exploding and the per-src
    * aggregate is the only O(E) stage. Celebrity rows are chunked
    * exactly like adjacencyFrame (bounded row width; the downstream
    * per-src re-aggregation restores exact sums).
    */
  private[graft] def reverseAdjacency(
      adj: DataFrame, chunkSize: Int = 65536): DataFrame =
    adj.select(col("src"), explode(col("dsts")).as("nid"))
      .groupBy(col("nid"))
      .agg(collect_list(col("src")).as("all_srcs"))
      .select(col("nid"),
        explode(transform(
          sequence(lit(0L), floor((size(col("all_srcs")) - 1) / lit(chunkSize))),
          i => slice(col("all_srcs"), (i * chunkSize + 1).cast("int"), lit(chunkSize)))).as("srcs"))
      .persist()

  /** The starting hub vector: every customer (even src) scores 1. */
  private def hitsInit(adj: DataFrame): DataFrame =
    adj.select(col("src").as("id")).distinct().select(col("id"), lit(1.0).as("score"))

  /** The authority half of a HITS round: the hub scores pushed along the
    * directed adjacency, L1-normalized and re-quantized to 9 decimals.
    * The fixed and converging loops both checkpoint it per round: `a`
    * nominally has one consumer, but the scalar-normalizer broadcast
    * makes every lazy hop re-pay the matvec, and chains compound ~2× per
    * skipped barrier — the lazy cadence measured 17.6 s vs 8.3 s at
    * sf0.1 and was reverted. r14 probe: splitting the normalizer out of
    * this job (raw-matvec checkpoint + scalar head() pull, or an
    * observe() metric) benched 9.8/9.0 s vs 5.5 s for this form — the
    * broadcast subtree shares the matvec's Exchange via ReusedExchange,
    * so the "double compute" this split would save doesn't exist, while
    * the extra per-round actions it adds are pure fixed cost (~0.16 s
    * each, OPTIMIZATION_r14.md "Driver-overhead constants").
    * (r15 probe #3, reverted: fusing BOTH matvecs into ONE per-round
    * checkpoint — lazy authority scores streaming into the radj hub
    * join, the a/h pair materialized as one tagged union — halves the
    * action count but benched hits 5.62 → 8.12 s, stored 4.08 → 6.50 s
    * with flat controls. Even with the hub join's build side being the
    * radj CACHE, the lazy authority subtree re-executes under the
    * union's second consumer and the next round's matvec join loses the
    * filtered-union vector's size estimate — the same lazy-score-vector
    * mechanism as the r14 probes, one level up.)
    */
  private def hitsAuthority(adj: DataFrame, h: DataFrame): DataFrame = {
    val araw = adj.join(h, col("src") === col("id"))
      .select(explode(col("dsts")).as("nid"), col("score"))
      .groupBy(col("nid")).agg(sum(col("score")).as("s"))
    val asum = araw.agg(sum(col("s")).as("t"))
    araw.crossJoin(broadcast(asum))
      .select(col("nid").as("id"), round(col("s") / col("t"), 9).as("score"))
  }

  /** The hub half of a HITS round, checkpointed per round like the
    * authority half. r15: the O(V) authority vector joins the nid-keyed
    * cached reverse adjacency BEFORE the explode — see reverseAdjacency.
    * (r14 probe #2, reverted: leaving the hub vector LAZY between rounds
    * — the hub matvec riding the next authority checkpoint, one action
    * per round instead of two — benched 9.4-10.2 s vs 5.9 s baseline,
    * +70% on all three hits entries. A lazy score vector defeats the
    * join-side size estimate, so the authority join loses its broadcast,
    * and the normalizer subtree re-executes under the BroadcastExchange
    * instead of sharing via ReusedExchange.)
    */
  private def hitsHub(radj: DataFrame, a: DataFrame): DataFrame = {
    val hraw = radj
      .join(a.select(col("id").as("nid"), col("score")), "nid")
      .select(explode(col("srcs")).as("src"), col("score"))
      .groupBy(col("src")).agg(sum(col("score")).as("s"))
    val hsum = hraw.agg(sum(col("s")).as("t"))
    hraw.crossJoin(broadcast(hsum))
      .select(col("src").as("id"), round(col("s") / col("t"), 9).as("score"))
  }

  /** Top-10 per side, rounded to 6 BEFORE the cut (the oracle rounds
    * first and orders by the rounded alias — cutting on the 9-decimal
    * score could retain a different id set on a 6-decimal tie; the
    * repo's round-before-cut discipline, cf. q18 / sim_*), with the exit
    * round as a column when the loop converged.
    */
  private def hitsTop(a: DataFrame, h: DataFrame, exit: Option[Int]): DataFrame = {
    def top(side: String, df: DataFrame): DataFrame = df
      .select(Seq(lit(side).as("side"), col("id"), round(col("score"), 6).as("score")) ++
        exit.map(e => lit(e.toLong).as("exit_round")): _*)
      .orderBy(desc("score"), asc("id")).limit(10)
    top("auth", a).unionByName(top("hub", h))
      .orderBy(col("side"), col("score").desc, col("id"))
  }

  /** Fixed-round HITS as 2·rounds half-steps — odd steps the authority
    * side, even steps the hub side — each checkpointed.
    */
  private def hitsLoop(adjAll: DataFrame, rounds: Int): DataFrame = {
    // directed half: customer (even id) → supplier (odd id)
    val adj = adjAll.filter(col("src") % 2 === 0)
    Materialize.releasing(reverseAdjacency(adj)) { radj =>
      val s = Supersteps.fixed(hitsInit(adj), 2 * rounds)((x, t) =>
        if (t % 2 == 1) hitsAuthority(adj, x) else hitsHub(radj, x))
      hitsTop(s(2 * rounds - 1), s(2 * rounds), None)
    }
  }

  /** k-CORE decomposition by synchronous peeling over the supplier
    * co-purchase graph — the "dense cohort extraction" kernel (spam
    * rings, market cores, bot clusters). The bipartite trade graph
    * itself has no peeling dynamics (supplier degree ≈ |customers|
    * never drops below any sane k), so the input is the same deg-capped
    * co-purchase projection as `graphTriangles` with a MILDER percentile
    * (0.90: top-10% of supplier pairs — at 0.99 the 10-core is nearly
    * empty), made bidirectional for per-node degrees.
    *
    * Each peel round keeps nodes with ≥ k surviving neighbors: two
    * semi-join-shaped equi-joins of the edge list against the active
    * set, one degree aggregate, one filter — all on compact int keys;
    * the edge list is the top-percentile pair table (bounded), the
    * active set only shrinks. FIXED rounds (default 5) ⇒ deterministic
    * "active set after N peels" — at sf0.01 the 10-core census walks
    * 95→39→31→30→29→28, real cascade dynamics, not a one-shot filter.
    * Output: per-round census (round, n_active, min_node) — the peeling
    * TRAJECTORY, so the oracle checks every intermediate fixpoint step,
    * not just the survivor set.
    */
  def graphKcore(orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int = 256, pct: Double = 0.90, k: Int = 10,
      rounds: Int = 5): DataFrame = {
    val edges = coPurchaseEdges(orders, lineitem, maxCustDeg, pct)
      .localCheckpoint() // feeds every peel round — built once
    kcorePeel(edges, k, rounds)
  }

  /** k-TRUSS decomposition by synchronous SUPPORT peeling over the
    * supplier co-purchase graph — the edge-cohesion refinement of
    * k-core: an edge survives iff it closes ≥ k−2 triangles with other
    * SURVIVING edges, so the k-truss strips "bridge" edges that k-core
    * keeps (a hub node can carry high degree through edges that share
    * no triangles). Input is the same deg-capped, 0.90-percentile
    * co-purchase projection as `graphKcore`, in canonical src<dst form.
    *
    * Each peel round: one wedge self-join of the bidirectional edge
    * frame on the shared endpoint (count of common ACTIVE neighbors per
    * surviving pair — the `graphTriangles` join shape, Σ_w deg(w)²
    * bounded by the percentile threshold), one left join of the edge
    * list against those support counts, one filter. FIXED rounds
    * (default 5) ⇒ deterministic "edge set after N peels"; at sf0.01
    * the 6-truss census walks 502→323→273→257→253→249 — a real
    * support-cascade, not a one-shot triangle filter. Output: per-round
    * census (round, n_edges, min_src) — the peeling TRAJECTORY, so the
    * oracle checks every intermediate step.
    *
    * Scale: the edge frame only shrinks; every join is compact-key; the
    * quadratic projection is paid once (or never — `graph_ktruss_stored`
    * serves the loop off the bucketed co-purchase layout).
    */
  def graphKtruss(orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int = 256, pct: Double = 0.90, k: Int = 6,
      rounds: Int = 5): DataFrame = {
    val edges = coPurchaseEdges(orders, lineitem, maxCustDeg, pct)
      .filter(col("src") < col("dst"))
    trussPeel(edges, k, rounds)
  }

  /** k-truss SERVED from the stored co-purchase layout — identical
    * trajectory to `graphKtruss` (same oracle), peel-only cost: the
    * canonical edge list is the bucketed table filtered to src < dst
    * (the graphTrianglesStored stance).
    */
  def graphKtrussStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      k: Int = 6, rounds: Int = 5): DataFrame = {
    val name = ensureCoPurchaseTable(spark, orders, lineitem, sfDir)
    trussPeel(spark.table(name).filter(col("src") < col("dst")), k, rounds)
  }

  /** The synchronous support-peel loop + per-round census trajectory,
    * shared by the in-query build and the stored-layout serving path.
    * `edgesInit` must be in canonical src < dst form.
    */
  private def trussPeel(edgesInit: DataFrame, k: Int, rounds: Int): DataFrame = {
    def census(e: DataFrame, r: Int): DataFrame = e
      .agg(count(lit(1)).as("n_edges"), min(col("src")).as("min_src"))
      .select(lit(r).as("round"), col("n_edges"), col("min_src"))
    Supersteps.fixed(edgesInit, rounds) { (e, _) =>
      // support(u,v) = #triangles containing the edge, via sorted
      // triangle ENUMERATION (a<b<c: join the canonical edge list with
      // itself on the middle node, close with the third edge) and a
      // 3-way explode — each triangle contributes +1 to its three
      // edges. This replaces the naive wedge-pair aggregate (count
      // |N(a)∩N(b)| for EVERY 2-hop pair, most of which are not edges):
      // the big intermediate is probed against the edge table instead
      // of hash-aggregated, and the aggregate runs over 3·#triangles
      // rows, not #wedges — measured 11.6 s → 3.4 s for the 5-round
      // loop at sf0.1 (BASELINE.md r10)
      val tri = e.select(col("src").as("a"), col("dst").as("b"))
        .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
        .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      val supp = tri.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("c").as("dst")),
          struct(col("a").as("src"), col("c").as("dst")))).as("t"))
        .select(col("t.src").as("src"), col("t.dst").as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("supp"))
      // per-ROUND checkpoint: each lazy round has FOUR consumers
      // (three triangle-join sides + the census row) — kcorePeel economics
      e.join(supp, Seq("src", "dst"), "left")
        .filter(coalesce(col("supp"), lit(0L)) >= k - 2)
        .select("src", "dst")
    }.zipWithIndex.map((census _).tupled).reduce(_ unionByName _).orderBy("round")
  }

  /** The thresholded BIDIRECTIONAL co-purchase edge frame — shared by
    * the in-query k-core and the stored layout writer.
    *
    * (r14 probe, reverted: generating the co-purchase pairs MAP-SIDE
    * from each customer's sorted supplier array — groupBy(cust) +
    * collect_list + nested transform/slice explode, exactly C(deg, 2)
    * rows instead of the self-join's deg² — benched SLOWER everywhere
    * it was tried (triangles 3.5 → 4.7 s, jaccard 3.2 → 5.8 s): the
    * per-element HOF lambda + struct allocation costs more than the
    * whole-stage-codegen'd join fanout it saves, the §4 "prefer
    * codegen" rule winning over the §2.3 row-count ledger. The deg²
    * self-join stays.)
    */
  private[graft] def coPurchaseEdges(orders: DataFrame, lineitem: DataFrame,
      maxCustDeg: Int = 256, pct: Double = 0.90): DataFrame = {
    val co = withCappedPairs(orders, lineitem, maxCustDeg)(sharedCounts)
    val thr = co.agg(percentile(col("shared"), lit(pct)).as("t"))
    // bidirectional: the peel loop needs per-NODE degrees
    val uedges = co.crossJoin(broadcast(thr))
      .filter(col("shared") >= col("t"))
      .select("s1", "s2")
    uedges.select(col("s1").as("src"), col("s2").as("dst"))
      .unionByName(uedges.select(col("s2").as("src"), col("s1").as("dst")))
  }

  /** The synchronous peel loop + per-round census trajectory, shared by
    * the in-query build and the stored-layout serving path.
    */
  private def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    def census(active: DataFrame, r: Int): DataFrame = active
      .agg(count(lit(1)).as("n_active"), min(col("id")).as("min_node"))
      .select(lit(r).as("round"), col("n_active"), col("min_node"))
    // per-ROUND checkpoint, unlike the every-second-hop loops: here
    // each lazy round has THREE consumers (both next-round joins + its
    // census row), so skipping the barrier re-runs the peel 3× —
    // measured 8.8 s vs 7.2 s at sf0.1 for the skip-odd cadence
    Supersteps.fixed(edges.select(col("src").as("id")).distinct(), rounds) { (active, _) =>
      // keep nodes with >= k neighbors still active: edge survives iff
      // BOTH endpoints are active (two compact-key equi-joins), then one
      // degree aggregate + filter
      edges
        .join(active.select(col("id").as("src")), Seq("src"))
        .join(active.select(col("id").as("dst")), Seq("dst"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("id"))
    }.zipWithIndex.map((census _).tupled).reduce(_ unionByName _).orderBy("round")
  }

  /** Deterministic RANDOM WALKS over the trade graph — the walk-corpus
    * generator graph-embedding pipelines (DeepWalk/node2vec) consume:
    * one walker starts at EVERY node and takes `steps` uniform-random
    * neighbor hops. Randomness is the repo's seeded-md5 coin (the
    * sample_hash / MinHash discipline): at step t a walker at `cur`
    * picks neighbor index md5(start|t|cur)[0,8) mod outdeg — both
    * engines compute the identical digest, so the walks (not just their
    * statistics) are oracle-checkable row for row, and a re-run is
    * byte-identical (no RNG state, no collect).
    *
    * Shape: neighbor selection by RANK, not array indexing — the ranked
    * edge list (src, rn, dst) with rn = row_number over (src, dst
    * order) is materialized once; each step is then TWO compact-key
    * equi-joins (walker⋈degree to compute the pick, walker⋈rankedEdges
    * on (node, rank) to hop). No arrays means no hub-chunking hazard
    * (adjacencyFrame chunks at 64 Ki neighbors) and the per-step cost
    * is O(walkers), not O(Σ deg) — the join fans nothing out. Per-step
    * localCheckpoint: the walk frontier is consumed twice (next hop +
    * its output slice), the LPA barrier economics.
    * Output: the full walk corpus (start_id, step, node), one row per
    * walker-step, (start_id, step) a total order.
    */
  def graphRandomWalk(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4): DataFrame =
    walkLoop(uniformRankedEdges(orders, lineitem), steps)

  /** The uniform walk's static side — the checkpointed ranked edge list
    * shared by the declared entry and the census path.
    */
  private def uniformRankedEdges(
      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tradeEdges(orders, lineitem)
      .withColumn("rn",
        row_number().over(Window.partitionBy("src").orderBy("dst")))
      .localCheckpoint() // the walk's static side, built once
  }

  /** Uniform walks SERVED from the stored bucketed adjacency — the walk
    * family's member of the stored-serving invariant (same oracle as
    * graph_random_walk): the ranked edge list is derived by exploding
    * the stored dsts arrays, and row_number over (src, dst order) gives
    * the GLOBAL neighbor rank even when a 64 Ki-chunked hub spans
    * several stored rows — the explode flattens all chunks first.
    */
  def graphRandomWalkStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      steps: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val name = ensureAdjacencyTable(spark, orders, lineitem, sfDir)
    val ranked = spark.table(name)
      .select(col("src"), explode(col("dsts")).as("dst"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("src").orderBy("dst")))
      .localCheckpoint()
    walkLoop(ranked, steps)
  }

  /** The draw-and-hop loop shared by the in-query and stored walk
    * forms: per step, one join against the degree table to compute the
    * md5 pick, one (node, rank) equi-join to hop.
    *
    * r14 probe, kept as a negative result: caching the ranked edge list
    * partitioned+sorted on the full (src, rn) hop key — so each hop
    * exchanges only the frontier — benched SLOWER at sf0.1 (walk_pairs
    * 4.4 → 5.9-6.7 s) because the hop joins are O(walkers)-tiny here
    * and AQE coalesces both checkpoint-side exchanges to a handful of
    * tasks, while the pinned cache forces full-width stages per hop
    * (task-dispatch cost > the ~26 MB shuffle it saves; contrast
    * biasedWalkLoop, whose per-step frames are ~75× larger and DO pay
    * for pinned edge-role caches). At a scale where the edge re-shuffle
    * dominates, the pinned-cache form is the right one — see
    * biasedEdgeRoles for the shape.
    */
  private def walkLoop(ranked: DataFrame, steps: Int): DataFrame =
    walkLoopRaw(ranked, steps, everySecond = true).orderBy("start_id", "step")

  /** The walk loop WITHOUT the presentation sort — what the pair census
    * consumes (r15, §2.4 "an orderBy used only to make output
    * deterministic": the census re-shuffles the corpus by walker key
    * immediately, so the declared walk entries' global range sort — a
    * sampling pass + range exchange + sort inside the census's
    * checkpoint job — was paid for nothing on the trainer chain).
    */
  private def walkLoopRaw(ranked: DataFrame, steps: Int,
      everySecond: Boolean = false): DataFrame = {
    val deg = ranked.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint()
    // checkpoint cadence (r15, measured): the DECLARED walk entries
    // consume the slice union ONCE, so a lazy odd hop is re-evaluated
    // only by the next hop — the loopPartitioned every-2 cadence wins
    // there (graph_random_walk_stored 4.44 → 3.37 s back-to-back).
    // The pair CENSUS consumed the union TWICE (self-join sides), so a
    // lazy hop was evaluated 3× and the cadence read slightly WORSE
    // (walk_pairs 5.18 → 5.43, node_embed 9.41 → 9.70) — that path
    // keeps per-hop checkpoints.
    Supersteps.fixed(deg.select(col("src").as("start"), col("src").as("cur")),
        steps, everySecond) { (cur, t) =>
      val drawn = cur
        .join(deg.select(col("src").as("cur"), col("outdeg")), "cur")
        .select(col("start"), col("cur"),
          (conv(substring(
              md5(concat_ws("|", col("start"), lit(t), col("cur"))), 1, 8),
            16, 10).cast("long") % col("outdeg") + 1).cast("int").as("pick"))
      drawn
        .join(ranked, drawn("cur") === ranked("src")
          && drawn("pick") === ranked("rn"))
        .select(col("start"), col("dst").as("cur"))
    }.zipWithIndex
      .map { case (cur, t) => cur.select(col("start"), lit(t).as("step"), col("cur").as("node")) }
      .reduce(_ unionByName _)
      .select(col("start").as("start_id"), col("step"), col("node"))
  }

  /** node2vec-style BIASED random walks — the second-order kernel on
    * top of `graphRandomWalk`: at step t a walker that came from `prev`
    * and sits at `cur` weights each candidate neighbor c by
    *   1/p  if c = prev          (return),
    *   1    if c ∈ N(prev)       (triangle — stay local),
    *   1/q  otherwise            (explore outward),
    * and draws by inverse CDF: the smallest c (dst order) whose
    * cumulative weight exceeds u·W, u = md5(start|t|prev|cur)[0,8)/2³²
    * (the seeded-md5 coin). Determinism across engines is ARITHMETIC,
    * not just procedural: with the default p=2, q=0.5 every weight is a
    * dyadic rational (0.5/1/2), so the ordered cumulative sums, the
    * total W, and the product u·W (32-bit dyadic × small dyadic, <53
    * mantissa bits) are all EXACT doubles — the comparison cum > u·W
    * can never diverge on rounding, and the oracle replays the same
    * windows in SQL row for row.
    *
    * Per step: one equi-join fanning each walker over N(cur) (the
    * O(Σdeg) superstep cost PageRank also pays), one LEFT membership
    * join against the edge set on (prev, c) for the triangle test, two
    * window sums partitioned by walker, one min-aggregate. Step 1 has
    * no prev and uses the first-order uniform pick — byte-identical to
    * `graphRandomWalk`'s step 1 (spec-pinned). Output: the walk corpus
    * (start_id, step, node).
    */
  def graphRandomWalkBiased(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, retP: Double = 2.0, outQ: Double = 0.5): DataFrame =
    biasedWalkLoop(tradeEdges(orders, lineitem), steps, retP, outQ)

  /** Biased walks SERVED from the stored bucketed adjacency — the walk
    * family's stored-serving invariant applied to the second-order
    * kernel (same oracle as graph_random_walk_biased): edges come from
    * exploding the stored dsts arrays, the rank derivation is the
    * graphRandomWalkStored shape. This is the entry's recurring
    * ACCOUNTABILITY number (r10 verdict item 4): the in-query form's
    * gate reading mixed the one-time projection build with per-step
    * cost and swung 12–22 s with stage-scheduling noise; the stored
    * form times the walk kernel alone each round.
    */
  def graphRandomWalkBiasedStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      steps: Int = 4, retP: Double = 2.0, outQ: Double = 0.5): DataFrame = {
    val name = ensureAdjacencyTable(spark, orders, lineitem, sfDir)
    biasedWalkLoop(spark.table(name).select(col("src"), explode(col("dsts")).as("dst")),
      steps, retP, outQ)
  }

  /** The biased walk's single cached static role — the sorted neighbor
    * arrays (src, nbrs), one row per node, partitioned on src by its own
    * groupBy — exposed for the PlanSpec pin and the r15 plan dumps.
    *
    * r15 (second session): this replaces the TWO r14 O(E) cached edge
    * roles (fanout clustered on src + triangle membership clustered on
    * (src, dst)). Two structural facts make the arrays role sufficient:
    *
    * 1. The co-purchase graph is BIPARTITE BY CONSTRUCTION — both edge
    *    providers encode customers as even ids (2·cust) and suppliers
    *    as odd ids (2·supp+1), and every edge connects an even src to
    *    an odd dst or vice versa. A candidate c ∈ N(cur) has the
    *    opposite parity of cur, i.e. the SAME parity as prev, while
    *    every member of N(prev) has the opposite parity of prev — so
    *    the triangle-membership test (c ∈ N(prev), c ≠ prev) is
    *    IDENTICALLY FALSE. The r13/r14 left join on (prev, c) never
    *    matched a row; the weight is 1/p at c = prev and 1/q
    *    everywhere else. (Bipartite graphs have no triangles — guide
    *    §8: use what you know that the optimizer does not.)
    *
    * 2. With only two weight values, both dyadic for the declared
    *    entries (p = 2.0 → 1/p = 0.5, q = 0.5 → 1/q = 2.0), the
    *    window's sequential cumulative sums are EXACT doubles equal to
    *    the closed forms j·(1/q) (before prev's rank) and
    *    (j−1)·(1/q) + 1/p (at/after it) — so the inverse-CDF draw is
    *    solvable per walker in O(1) from (u, outdeg, rank of prev),
    *    bit-identical to the window+filter+min pipeline the oracle
    *    replays. See [[biasedStepDraw]].
    */
  private[graft] def biasedNeighborRole(edgesIn: DataFrame): DataFrame =
    edgesIn.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .persist()

  /** One biased superstep as a closed-form draw over the cached arrays
    * role, appending the drawn node to the walker's `path` (the nodes it
    * has visited, start first): join the O(walkers) state to `adj` on
    * cur (the role's own partitioning — per step only the state frame
    * moves), then solve the inverse-CDF crossing j* = min{ j : S(j) >
    * u·T } directly, where S(j) is the ascending-by-c cumulative weight
    * with the single 1/p spike at r = rank of prev in N(cur):
    *   S(j) = j·(1/q)               for j <  r
    *   S(j) = (j−1)·(1/q) + 1/p     for j >= r
    *   T    = S(n),  n = outdeg(cur).
    * Each region's candidate index is derived by floor division and
    * then ±1-corrected by direct comparison against S, so the selection
    * is exact under the same double comparisons the window form used
    * (and robust to rounding for non-dyadic p/q, where the old and new
    * forms agree up to ulps). The former shape — O(fanout) candidate
    * frame, (prev, c) membership SMJ, one WindowExec (exchange + sort
    * on start) and a groupBy per step — is deleted outright: no window,
    * no fanout frame, no membership role.
    *
    * The hash is built on the STATE (`shuffle_hash` hint), which is what
    * keeps the role in place. Unhinted, the planner compares sizes: the
    * cached role's exact in-memory size is under the 10 MB
    * auto-broadcast threshold at sf0.001 and sf0.1 while the
    * checkpointed state's estimate is not, so it broadcast the O(E)
    * role every step (BroadcastHashJoin BuildRight: a driver collect and
    * a hash build per step; one sf0.1 stored walk left 22–66 MB of
    * broadcast blocks, 0.6 MB with the hint). With the hint the state is
    * shuffled to the role's src partitioning and nothing is broadcast
    * at any threshold.
    */
  private[graft] def biasedStepDraw(state: DataFrame, adj: DataFrame,
      t: Int, retP: Double, outQ: Double): DataFrame = {
    val ip = 1.0 / retP
    val iq = 1.0 / outQ
    // smallest j with j·iq > x, ±1-corrected against exact comparisons
    def crossA(x: Column): Column = {
      val j0 = (floor(x / lit(iq)) + 1).cast("long")
      when((j0 - 1).cast("double") * lit(iq) > x, j0 - 1)
        .when(j0.cast("double") * lit(iq) > x, j0)
        .otherwise(j0 + 1)
    }
    // smallest j with (j−1)·iq + ip > x, ±1-corrected the same way
    def crossB(x: Column): Column = {
      val j0 = (floor((x - lit(ip)) / lit(iq)) + 2).cast("long")
      when(((j0 - 2).cast("double") * lit(iq) + lit(ip)) > x, j0 - 1)
        .when(((j0 - 1).cast("double") * lit(iq) + lit(ip)) > x, j0)
        .otherwise(j0 + 1)
    }
    state
      .hint("shuffle_hash")
      .join(adj.select(col("src").as("cur"), col("nbrs")), "cur")
      .withColumn("n", size(col("nbrs")))
      .withColumn("r", array_position(col("nbrs"), col("prev")))
      .withColumn("u", conv(substring(md5(concat_ws("|",
          col("start"), lit(t), col("prev"), col("cur"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0))
      // T as the window summed it: (n−1) dyadic 1/q terms + one 1/p
      .withColumn("x",
        col("u") * ((col("n") - 1).cast("double") * lit(iq) + lit(ip)))
      .withColumn("jA", crossA(col("x")))
      .withColumn("jB", crossB(col("x")))
      // crossing before prev's rank ⟺ S(r−1) = (r−1)·iq > x ⟺ jA < r
      .withColumn("jstar",
        when(col("jA") < col("r"), col("jA"))
          .otherwise(greatest(col("r"), col("jB"))))
      .withColumn("nxt", element_at(col("nbrs"), col("jstar").cast("int")))
      .select(col("start"), col("cur").as("prev"), col("nxt").as("cur"),
        array_append(col("path"), col("nxt")).as("path"))
  }

  /** The second-order draw loop shared by the in-query and stored
    * biased-walk forms (the `walkLoop` precedent — one kernel, two
    * edge-list providers, so the forms cannot drift). Callers hand in the
    * lazy (src, dst) edge frame; the loop caches it once as the sorted
    * neighbor-arrays role ([[biasedNeighborRole]], released when the
    * loop returns or throws), so per step only the O(walkers) state
    * frame moves — by the state-side hash build of [[biasedStepDraw]]:
    * without it the small cached role read as the broadcast side and
    * was collected and broadcast once per step. The state carries the
    * walker's path, so the output is the last state's path exploded by
    * position and the loop runs on [[Supersteps.last]]: each step is
    * checkpointed and releases the step before it, so one state's blocks
    * outlive the loop instead of every step's.
    */
  private[graft] def biasedWalkLoop(edgesIn: DataFrame,
      steps: Int, retP: Double, outQ: Double): DataFrame =
    Materialize.releasing(biasedNeighborRole(edgesIn)) { adj =>
      // step 1: first-order uniform (no prev yet) — the graphRandomWalk
      // pick. rn = row_number over (src, dst asc) is exactly the 1-based
      // index into the sorted nbrs array, so the rank join is a
      // projection over the cached role (deg checkpoint + two joins + a
      // ranking window, deleted).
      val step1 = adj.select(col("src").as("start"), col("src").as("cur"),
          element_at(col("nbrs"), (conv(substring(
              md5(concat_ws("|", col("src"), lit(1), col("src"))), 1, 8),
            16, 10).cast("long") % size(col("nbrs")) + 1).cast("int")).as("nxt"))
        .select(col("start"), col("cur").as("prev"), col("nxt").as("cur"),
          array(col("cur"), col("nxt")).as("path"))
      // round i draws step i + 1
      Supersteps.last(step1, steps - 1)((state, i) =>
          biasedStepDraw(state, adj, i + 1, retP, outQ))
        .select(col("start").as("start_id"),
          posexplode(col("path")).as(Seq("step", "node")))
        .orderBy("start_id", "step")
    }

  /** Skip-gram PAIR generation over the walk corpus — the step that
    * turns `graphRandomWalk`'s output into graph-embedding training
    * data (DeepWalk's actual trainer input): for every walk, emit
    * (center, context) for all positions within `window` of each other
    * (both directions, excluding distance 0). One self-equi-join of the
    * walk corpus on the walker key with a bounded band predicate — the
    * per-walker frame is `steps+1` rows, so the join fans out
    * O(walkers · steps · window), never corpus². Output: the distinct
    * (center, context) pair census with occurrence counts — what a
    * negative-sampling trainer consumes as its positive distribution.
    */
  def graphWalkPairs(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, window: Int = 2): DataFrame =
    walkPairsRaw(orders, lineitem, steps, window)
      .orderBy("center", "context")

  /** The walk-corpus frame exactly as the pair census materializes it —
    * exposed for the r15 plan artifacts (the census's only corpus-sized
    * input). r15: the UNSORTED loop output — the census self-join
    * re-shuffles the corpus on the walker key immediately, so the
    * declared walk entry's global range sort (sampling job + range
    * exchange + sort) was paid inside this path's checkpoint for
    * nothing (§2.4). `graph_random_walk` itself keeps its orderBy.
    */
  private[graft] def walkCensusCorpus(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4): DataFrame =
    walkLoopRaw(uniformRankedEdges(orders, lineitem), steps)

  /** The UNSORTED pair census — the frame [[graphWalkPairs]] presents
    * sorted and the SGNS trainer consumes as-is: the trainer re-keys and
    * re-aggregates the census immediately, so paying the global range
    * sort before its checkpoint was pure waste (r14, §2.4 "an orderBy
    * used only to make output deterministic").
    */
  private[graft] def walkPairsRaw(orders: DataFrame, lineitem: DataFrame,
      steps: Int = 4, window: Int = 2): DataFrame = {
    // NO corpus checkpoint (r15): every per-step frontier slice is
    // already checkpoint-backed inside the loop, so both self-join
    // sides scan those cheap unions directly.
    //
    // r15 second session: the self-join on start_id (two corpus
    // exchanges + two sorts + SMJ + band filter) is replaced by ONE
    // hash-aggregate pivot + a literal pair fanout. The per-walker
    // frame is exactly steps+1 rows (the walk loop preserves one row
    // per walker per step — every frontier join hits, the graph being
    // symmetric), and steps/window are plan-time constants — so the
    // walker's positions pivot into columns n0..nSTEPS with max(when)
    // (one exchange, no sort), and the banded pair set is a LITERAL
    // array of (center, context) structs exploded through whole-stage
    // codegen (no higher-order functions — the r14 C(deg,2) lesson).
    // Same multiset of pair instances, same census counts (§2.4: one
    // exchange where two + two sorts stood).
    val walks = walkCensusCorpus(orders, lineitem, steps)
    val pivotAggs = (0 to steps).map(t =>
      max(when(col("step") === t, col("node"))).as(s"n$t"))
    val pairCols = for {
      i <- 0 to steps
      j <- 0 to steps
      if i != j && math.abs(i - j) <= window
    } yield struct(col(s"n$i").as("center"), col(s"n$j").as("context"))
    walks.groupBy(col("start_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
      .select(explode(array(pairCols: _*)).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Degree ASSORTATIVITY — Pearson correlation of endpoint degrees over
    * the edges (do hubs link to hubs?): the one-number structure summary
    * read before choosing partition/skew strategy (disassortative graphs
    * concentrate load on hub-leaf exchanges). Exact integer sufficient
    * sums over the edge list (degrees joined on compact keys), the
    * agg_regression closed form at the double boundary. Bipartite trade
    * graphs are strongly disassortative by construction — the spec pins
    * the sign.
    *
    * The sums run over the undirected PAIRS, half the rows: a pair
    * (c, s) with degrees (dc, ds) stands for its two directed edges, so
    * n = 2·pairs, Σx = Σy = Σ(dc + ds), Σxy = 2·Σ dc·ds and
    * Σx² = Σy² = Σ(dc² + ds²) — the same integers the directed sums
    * give. The pair table feeds three scans (both degree aggregates and
    * the pair stream), so it is checkpointed once and orders⋈lineitem
    * runs once.
    */
  def graphAssortativity(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = tradePairs(orders, lineitem).localCheckpoint()
    val s = pairs
      .join(pairs.groupBy(col("c")).agg(count(lit(1)).as("dc")), "c")
      .join(pairs.groupBy(col("s")).agg(count(lit(1)).as("ds")), "s")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("dc") + col("ds")).as("sx"),
        sum(col("dc") * col("ds")).as("sdd"),
        sum(col("dc") * col("dc") + col("ds") * col("ds")).as("sxx"))
      .select((col("n_pairs") * 2).as("n"), col("sx"), col("sx").as("sy"),
        (col("sdd") * 2).as("sxy"), col("sxx"), col("sxx").as("syy"))
    s.select(col("n"),
      round(
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) /
        sqrt((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")) *
          (col("n").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("assortativity"))
  }

  /** Degree distribution of the customer→supplier trade graph — the
    * first profiling query run before any iterative graph algorithm
    * (it sizes the hub problem the adjacency chunking and the triangle
    * degree cap exist for). Two cascaded hash aggregates over compact
    * long keys; output is O(max degree) rows regardless of |V| or |E|,
    * so the full distribution is always driver-safe.
    */
  def degreeDist(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
      .groupBy(col("cust"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  // ---- stored adjacency layout (round 8) -------------------------------

  /** Build-or-reuse the STORED adjacency: the chunked per-src adjacency
    * rows written ONCE as a src-bucketed table at the session's shuffle
    * width ([[StoredLayout]]) — the
    * sink_ann_index stance applied to graphs. The bucketed scan reports
    * the src HashPartitioning straight from storage, so every iterative
    * consumer joins against it with only the O(V) rank-side exchange and
    * NOBODY re-pays the O(E) build: buildGraph's 1.8 s (43% of the
    * pagerank entry, re-run identically by all five graph entries per
    * sweep — the round-7 verdict's finding) becomes a once-per-ingest
    * write. Table name is keyed by sfDir so layouts from different scale
    * factors never collide.
    */
  private[graft] def ensureAdjacencyTable(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rebuild: Boolean = false): String =
    StoredLayout.ensure(spark, "adj", sfDir, "src", rebuild)(
      adjacencyFrame(orders, lineitem))

  /** The stored-layout WRITE entry + its content audit: (re)build the
    * bucketed adjacency table, then read it back and fold it to a
    * per-(side, bucket) census — src count, chunk-row count, edge count,
    * degree extrema. The audit key `src % 8` is a LOGICAL bucket (the
    * physical file bucket uses Spark's internal Murmur3, deliberately
    * not replicated in SQL); layout CONTENT is what the oracle proves,
    * the exchange-free physical consumption is what PlanSpec pins.
    */
  def sinkGraphAdjacency(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String): DataFrame = {
    val name = ensureAdjacencyTable(spark, orders, lineitem, sfDir, rebuild = true)
    spark.table(name)
      .groupBy((col("src") % 2).as("side"), (col("src") % 8).as("bucket"))
      .agg(
        countDistinct(col("src")).as("n_src"),
        count(lit(1)).as("n_chunk_rows"),
        sum(size(col("dsts"))).as("n_edges"),
        max(col("outdeg")).as("max_deg"),
        min(col("src")).as("min_src"))
      .orderBy("side", "bucket")
  }

  /** PageRank SERVED FROM the stored layout — identical result to
    * `graphPagerank` (same oracle), loop-only cost: the adjacency
    * arrives src-bucketed from storage (built here only if this JVM has
    * not yet), is pinned in the cache for superstep reuse, and the loop
    * pays exactly what it pays after an in-query build — one O(V)
    * alignment exchange + the dst aggregate per round.
    */
  def graphPagerankStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rounds: Int = 10, damping: Double = 0.85): DataFrame =
    withStoredAdjacency(spark, orders, lineitem, sfDir) { (adj, nodes) =>
      loopPartitioned(adj, nodes, nodes.count(), rounds, damping)
    }

  // ---- stored co-purchase layout (round 8 continuation) ----------------

  /** Build-or-reuse the STORED co-purchase edge layout — the
    * sink_graph_adjacency stance applied to the PROJECTED graph: the
    * deg²-capped, percentile-thresholded supplier co-purchase edges
    * (the shared input of graph_triangles / graph_jaccard / graph_kcore,
    * each of which re-paid the projection in-query) written ONCE as a
    * src-bucketed table. The peel/wedge consumers then join against a
    * bucketed scan and nobody re-runs the quadratic projection.
    */
  private[graft] def ensureCoPurchaseTable(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      rebuild: Boolean = false): String =
    StoredLayout.ensure(spark, "copurchase", sfDir, "src", rebuild)(
      coPurchaseEdges(orders, lineitem))

  /** The stored co-purchase WRITE entry + content audit — per logical
    * bucket (src % 8): edge count, distinct sources, id extrema. Layout
    * CONTENT is what the oracle proves (physical bucketing uses Spark's
    * internal hash, deliberately not replicated in SQL).
    */
  def sinkCopurchaseLayout(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String): DataFrame = {
    val name = ensureCoPurchaseTable(spark, orders, lineitem, sfDir,
      rebuild = true)
    spark.table(name)
      .groupBy((col("src") % 8).as("bucket"))
      .agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_src"),
        min(col("src")).as("min_src"),
        max(col("dst")).as("max_dst"))
      .orderBy("bucket")
  }

  /** k-core SERVED from the stored co-purchase layout — identical
    * trajectory to `graphKcore` (same oracle), peel-only cost: the
    * quadratic projection is a once-per-ingest write, the loop joins
    * against the bucketed scan.
    */
  def graphKcoreStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String,
      k: Int = 10, rounds: Int = 5): DataFrame = {
    val name = ensureCoPurchaseTable(spark, orders, lineitem, sfDir)
    Materialize.releasing(spark.table(name).persist())(kcorePeel(_, k, rounds))
  }

  /** Triangle counting SERVED from the stored co-purchase layout. The
    * id-oriented edge list the wedge join wants is the stored
    * bidirectional table filtered to src < dst — a bucketed scan plus a
    * map-side filter in place of the whole quadratic projection. NOTE
    * the threshold differs from `graphTriangles` (the layout stores the
    * 0.90-percentile graph; the in-query entry cuts at 0.99), so this is
    * the DENSER-graph triangle census with its own oracle, not a
    * replica — both thresholds are legitimate operating points, and the
    * spec cross-checks this entry against the in-query builder run at
    * the layout's own percentile.
    */
  def graphTrianglesStored(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String): DataFrame = {
    val name = ensureCoPurchaseTable(spark, orders, lineitem, sfDir)
    val edges = spark.table(name)
      .filter(col("src") < col("dst"))
      .select(col("src").as("s1"), col("dst").as("s2"))
      .localCheckpoint() // feeds both wedge sides + the closing semi-join
    val wedges = edges.select(col("s1").as("a"), col("s2").as("b"))
      .join(edges.select(col("s1").as("b"), col("s2").as("c")), Seq("b"))
    val tri = wedges.join(
      edges.select(col("s1").as("a"), col("s2").as("c")),
      Seq("a", "c"), "left_semi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("supp_id"))
      .groupBy(col("supp_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), asc("supp_id"))
      .limit(10)
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT off the stored co-purchase
    * layout — the neighborhood-density number (Watts & Strogatz 1998)
    * next to the census graph_triangles_stored already ships:
    * c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) in exact ppm, for every node
    * with deg ≥ 2. Same oriented wedge+semi-join anatomy (no triangle
    * counted twice, no all-pairs stage); degrees read straight off the
    * both-directions stored table; the ratio closes in integer division.
    */
  def graphClusteringCoef(
      spark: org.apache.spark.sql.SparkSession,
      orders: DataFrame, lineitem: DataFrame, sfDir: String): DataFrame = {
    val name = ensureCoPurchaseTable(spark, orders, lineitem, sfDir)
    val stored = spark.table(name)
    val deg = stored.groupBy(col("src").as("supp_id"))
      .agg(count(lit(1)).as("deg"))
    val edges = stored
      .filter(col("src") < col("dst"))
      .select(col("src").as("s1"), col("dst").as("s2"))
      .localCheckpoint() // feeds both wedge sides + the closing semi-join
    val wedges = edges.select(col("s1").as("a"), col("s2").as("b"))
      .join(edges.select(col("s1").as("b"), col("s2").as("c")), Seq("b"))
    val tri = wedges.join(
      edges.select(col("s1").as("a"), col("s2").as("c")),
      Seq("a", "c"), "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("supp_id"))
      .groupBy(col("supp_id"))
      .agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("supp_id"), "left").na.fill(0L, Seq("n_tri"))
      .filter(col("deg") >= 2)
      .select(col("supp_id"), col("deg"), col("n_tri"),
        expr("(n_tri * 2 * 1000000) DIV (deg * (deg - 1))").as("coef_ppm"))
      .orderBy("supp_id")
  }
}
