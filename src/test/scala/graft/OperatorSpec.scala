package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators._

/** Per-family unit tests on tiny in-memory frames plus the SURVEY §5
  * scalacheck properties. Fault cases follow the reference's validation
  * mandate: empty inputs, nulls, duplicate re-ingestion
  * (/root/reference/README.md:31–33, 105).
  */
class OperatorSpec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(r.passed, r.status.toString)
  }

  // ---- §2.2 projection / predicates ----

  test("empty_payload_guard yields empty but correctly-typed output") {
    val out = RelationalOps.emptyPayloadGuard(
      Seq((1L, 5.0, "N")).toDF("l_orderkey", "l_quantity", "l_returnflag"))
    assert(out.count() === 0)
    assert(out.schema.fieldNames.toSeq === Seq("l_returnflag", "sum_qty"))
  }

  test("sample: output is a subset with roughly the requested fraction") {
    val li = Tables.lineitem(spark, sf0001)
    val n = li.count()
    val s = RelationalOps.sample(li)
    val k = s.count()
    assert(k > (0.05 * n).toLong && k < (0.15 * n).toLong, s"$k of $n not ~10%")
    // subset: sampled keys all exist in the source (join back)
    assert(s.join(li, Seq("l_orderkey", "l_linenumber"), "left_anti").count() === 0)
  }

  // ---- §2.3 joins ----

  test("asof join picks the latest click at-or-before each purchase") {
    val ev = Seq(
      // user 1: click(10), click(20), purchase(20) -> same-instant click wins
      (1L, 10L, 1L, "click"), (2L, 20L, 1L, "click"), (3L, 20L, 1L, "purchase"),
      // user 2: purchase(5) with no prior click -> null; then click(7), purchase(9)
      (4L, 5L, 2L, "purchase"), (5L, 7L, 2L, "click"), (6L, 9L, 2L, "purchase"))
      .toDF("event_id", "secs", "user_id", "event_type")
      .select(col("event_id"), timestamp_seconds(col("secs")).as("ts"),
        col("user_id"), col("event_type"))
    val out = JoinOps.asof(ev).collect().map(r =>
      (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      (3L, Some(2L)), // same-ts click 2 visible
      (4L, None),     // no prior click
      (6L, Some(5L))))
  }

  test("forward asof join picks the earliest click at-or-after each purchase") {
    val ev = Seq(
      // user 1: purchase(20), click(20), click(30) -> same-instant click wins
      (1L, 20L, 1L, "purchase"), (2L, 20L, 1L, "click"), (3L, 30L, 1L, "click"),
      // user 2: click(5), purchase(9) with no later click -> null
      (4L, 5L, 2L, "click"), (5L, 9L, 2L, "purchase"))
      .toDF("event_id", "secs", "user_id", "event_type")
      .select(col("event_id"), timestamp_seconds(col("secs")).as("ts"),
        col("user_id"), col("event_type"))
    val out = JoinOps.asofForward(ev).collect().map(r =>
      (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      (1L, Some(2L)), // same-ts click 2 visible, not the later click 3
      (5L, None)))    // no click at-or-after
  }

  test("left_anti keeps only keys unmatched in the urgent subset") {
    val c = Seq((1L, "a", "S1"), (2L, "b", "S2"), (3L, "c", "S3"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
    // customer 1 has an urgent order; customer 3 has only a LOW order,
    // which the anti-join's right-side filter must exclude -> 3 survives
    val o = Seq((10L, 1L, "1-URGENT"), (11L, 3L, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val out = JoinOps.leftAnti(c, o).select("c_custkey").as[Long].collect()
    assert(out.toSeq === Seq(2L, 3L))
  }

  // ---- §2.4 aggregations ----

  test("rollup emits detail, subtotal, and grand-total rows with grouping ids") {
    val li = Seq(("A", "F", 1.0), ("A", "O", 2.0), ("B", "F", 3.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val out = AggOps.aggRollup(li).collect()
    // 3 detail + 2 subtotal + 1 grand total
    assert(out.length === 6)
    val grand = out.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length === 1 && grand.head.getAs[Double]("sum_qty") === 6.0)
  }

  test("pivot fills missing cells with zero") {
    val li = Seq(("A", "F"), ("A", "F"), ("B", "O"))
      .toDF("l_returnflag", "l_linestatus")
    val out = AggOps.aggPivot(li).orderBy("l_returnflag").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("A", 2L, 0L), ("B", 0L, 1L)))
  }

  test("approx_count_distinct is within rsd bounds on real data") {
    // r9 checked contract: the entry exports exact counts + a derived-band
    // verdict over both sketched columns; pin the verdict true and the
    // exacts in agreement with aggCountDistinct
    val out = AggOps.aggApproxDistinct(Tables.lineitem(spark, sf0001)).collect()
    val exact = AggOps.aggCountDistinct(Tables.lineitem(spark, sf0001)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val flag = r.getString(0)
      assert(r.getBoolean(4), s"$flag: approx_ok flipped false")
      assert((r.getLong(1), r.getLong(2)) === exact(flag), s"$flag exact mismatch")
    }
  }

  test("percentile_approx brackets the exact percentiles on real data") {
    // the operator itself computes the GK-vs-exact brackets and exports
    // verdict columns (its oracle predicts true); the spec pins the same
    // contract on real data plus agreement with aggMedian's exact values
    val rows = AggOps.aggPercentileApprox(Tables.lineitem(spark, sf0001)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(6), s"${r.getString(0)}: p50 outside its bracket")
      assert(r.getBoolean(7), s"${r.getString(0)}: p95 outside its bracket")
    }
    val exact = AggOps.aggMedian(Tables.lineitem(spark, sf0001)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    rows.foreach { r =>
      val (med, q1, q3) = exact(r.getString(0))
      assert(r.getDouble(1) === med && r.getDouble(2) === q1 && r.getDouble(3) === q3,
        s"${r.getString(0)}: exported exact percentiles disagree with aggMedian")
    }
  }

  test("sessionize property: intra-session gaps <= 30min, inter-session gaps > 30min, no event lost") {
    val us = 1000000L
    // random per-user gap sequences straddling the 30-min boundary
    val gapsGen = Gen.nonEmptyListOf(Gen.oneOf(60L, 900L, 1799L, 1801L, 3600L))
    check(Prop.forAll(gapsGen) { gaps: List[Long] =>
      val times = gaps.scanLeft(0L)((acc, g) => acc + g * us)
      val events = times.zipWithIndex
        .map { case (t, i) => (1L, (i + 1).toLong, t) }
        .toDF("user_id", "event_id", "t")
        .select(col("user_id"), col("event_id"), timestamp_micros(col("t")).as("ts"))
      // columns: user_id, session_seq, n_events, start_us, end_us, first_event
      val sessions = WindowOps.sessionize(events).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1) // (seq, n, start, end)
      val expectedSessions = 1 + gaps.count(_ > 1800L)
      val allEvents = sessions.map(_._2).sum
      // sessions tile the timeline: next start > previous end by > 30 min
      val gapsOk = sessions.sliding(2).forall {
        case Array((_, _, _, e1), (_, _, s2, _)) => s2 - e1 > 1800L * us
        case _ => true
      }
      sessions.length == expectedSessions && allEvents == times.length && gapsOk
    })
  }

  test("sessionize splits on >30min gaps and nowhere else") {
    val us = 1000000L
    val events = Seq(
      // user 1: two events 10 min apart (one session), then a 31-min gap
      (1L, 10L, 0L * us), (1L, 11L, 600L * us), (1L, 12L, (600L + 1860L) * us),
      // user 2: single event
      (2L, 20L, 0L * us))
      .toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))
    val out = WindowOps.sessionize(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  // ---- §2.5 windows ----

  test("win_topk_per_group emits at most k rows per group, ranked desc") {
    val o = Seq((1L, 10L, 5.0), (2L, 10L, 9.0), (3L, 10L, 7.0), (4L, 10L, 1.0),
      (5L, 20L, 2.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = WindowOps.topkPerGroup(o).collect()
    val g10 = out.filter(_.getLong(0) == 10L)
    assert(g10.length === 3)
    assert(g10.map(_.getDouble(3)).toSeq === Seq(9.0, 7.0, 5.0))
    assert(out.count(_.getLong(0) == 20L) === 1)
  }

  // ---- §2.7 set ops + §2.1 sinks: scalacheck properties ----

  test("property: union of disjoint pages preserves total count") {
    val counts = Gen.chooseNum(0, 50)
    check(Prop.forAll(counts, counts) { (a: Int, b: Int) =>
      val page1 = (1 to a).map(i => (i.toLong, 10000.0 + i)).toDF("o_orderkey", "o_totalprice")
      val page2 = (1 to b).map(i => (1000L + i, 200000.0 + i)).toDF("o_orderkey", "o_totalprice")
      val merged = page1.withColumn("page", lit(1))
        .unionByName(page2.withColumn("page", lit(2)))
      merged.count() == a.toLong + b
    })
  }

  test("property: upsert is idempotent — re-ingesting the same load changes nothing") {
    import org.apache.spark.sql.expressions.Window
    val keyGen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 30L))
    check(Prop.forAll(keyGen) { keys: List[Long] =>
      val load = keys.distinct.map(k => (k, k * 1.5, 1)).toDF("k", "v", "load_id")
      def upsert(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("k").orderBy(desc("load_id"), desc("v"))
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      }
      val once = upsert(load)
      val twice = upsert(load.unionByName(load))
      once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty
    })
  }

  test("property: dedup_exact output keys are unique and cover all texts") {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("alpha beta", "gamma delta", "epsilon", "zeta eta"))
    check(Prop.forAll(textGen) { texts: List[String] =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = operators.LlmOps.dedupExact(docs)
      out.count() == texts.distinct.size.toLong &&
        out.agg(sum("n_copies")).as[Long].head() == texts.size.toLong
    })
  }

  // ---- §2.6 sort_within_partitions invariant (no-oracle op) ----

  test("sort_within_partitions: every partition is internally sorted and row-complete") {
    val li = Tables.lineitem(spark, sf0001)
    val out = SortSetOps.sortWithinPartitions(li)
    // per-partition sortedness by (l_returnflag, l_shipdate)
    val violations = out
      .select("l_returnflag", "l_shipdate")
      .as[(String, java.time.LocalDateTime)]
      .mapPartitions { rows =>
        var bad = 0L
        var prev: (String, java.time.LocalDateTime) = null
        rows.foreach { r =>
          if (prev != null) {
            val cmp = prev._1.compareTo(r._1)
            if (cmp > 0 || (cmp == 0 && prev._2.isAfter(r._2))) bad += 1
          }
          prev = r
        }
        Iterator.single(bad)
      }
      .reduce(_ + _)
    assert(violations === 0L, s"$violations out-of-order rows inside partitions")
    // layout control must not drop or duplicate rows
    assert(out.count() === li.count())
  }

  // ---- §2.8 hash family: xxhash64 behavioral check (no DuckDB twin) ----

  test("xxhash64 is injective on the document corpus (no 64-bit collisions)") {
    val docs = Tables.documents(spark, sf0001)
    val n = docs.select(countDistinct(col("text"))).as[Long].head()
    val nh = docs.select(countDistinct(xxhash64(col("text")))).as[Long].head()
    assert(n === nh)
  }

  test("agg_sketch_rollup: union of daily sketches equals the single-pass sketch") {
    val ev = Tables.events(spark, sf0001)
    // the mergeability law HLL sketches exist for: merging per-partition
    // sketches must lose nothing vs sketching the whole stream at once
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_merged"))
    val single = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14))).as("est_single"))
    val rows = merged.join(single, "event_type").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"sketch union diverged from single-pass sketch: $r"))
    // and every checked verdict the oracle predicts is actually true
    val out = AggOps.aggSketchRollup(ev).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)))
  }

  test("graph_pagerank: star graph — hub dominates, symmetric leaves tie, mass conserved") {
    // customer 1 orders one part from each of suppliers 1..4: the trade
    // graph is a 4-leaf star with the customer (node 2) as hub. Leaves
    // (nodes 3,5,7,9) are interchangeable, so their ranks must be equal;
    // bidirectional edges conserve rank mass, so ranks sum to 1. The hub
    // recurrence is r_h(t+2) = 0.132 + 0.7225 r_h(t) (fixpoint 0.47568),
    // so round 10 lands analytically at
    // 0.47568 + (0.2 - 0.47568) * 0.7225^5 = 0.421403.
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphPagerank(orders, lineitem).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSet === Set(2L, 3L, 5L, 7L, 9L))
    assert(out.head._1 === 2L, s"hub must rank first: ${out.toSeq}")
    val leaves = out.filter(_._1 != 2L).map(_._2)
    assert(leaves.distinct.length === 1, s"symmetric leaves diverged: ${out.toSeq}")
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-5, "rank mass not conserved")
    assert(math.abs(out.head._2 - 0.421403) < 1e-5,
      s"hub rank ${out.head._2} != analytic round-10 value 0.421403")
  }

  test("graph adjacency: hub rows segment at chunkSize, superstep sums unchanged") {
    // customer 1 orders from 50 suppliers: hub node 2 has degree 50.
    // chunkSize=16 must segment it into ceil(50/16)=4 bounded rows that
    // all carry the TOTAL outdeg; the per-dst re-aggregation then yields
    // exactly the unsegmented superstep's ranks.
    val orders = (1L to 50L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 50L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val (adjC, nodesC, nC) = GraphOps.buildGraph(orders, lineitem, chunkSize = 16)
    val (adjP, _, nP) = GraphOps.buildGraph(orders, lineitem)
    assert(nC === 51L && nP === 51L, "node count must ignore chunk duplication")
    val hubRows = adjC.filter(col("src") === 2L)
      .select(col("outdeg"), size(col("dsts")).as("sz"),
        col("dsts")).collect()
    assert(hubRows.length === 4, s"expected 4 chunk rows, got ${hubRows.length}")
    assert(hubRows.forall(_.getLong(0) === 50L), "every chunk must carry total degree")
    assert(hubRows.forall(_.getInt(1) <= 16), "chunk rows must stay bounded")
    val coverage = hubRows.flatMap(_.getSeq[Long](2)).sorted.toSeq
    assert(coverage === (1L to 50L).map(_ * 2 + 1).sorted,
      "chunks must cover every neighbor exactly once")
    // leaves keep one row each
    assert(adjC.filter(col("src") =!= 2L).groupBy("src").count()
      .filter(col("count") > 1).count() === 0)
    def step(adj: org.apache.spark.sql.DataFrame, n: Long): Map[Long, Double] = {
      val ranks = nodesC.select(col("id"), lit(1.0 / n).as("rank"))
      GraphOps.superstepPartitioned(adj, ranks, n, 0.85).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val (sc, sp) = (step(adjC, nC), step(adjP, nP))
    adjC.unpersist(); adjP.unpersist()
    assert(sc.keySet === sp.keySet)
    sc.foreach { case (id, r) =>
      assert(math.abs(r - sp(id)) < 1e-12, s"node $id: $r vs ${sp(id)}") }
    assert(math.abs(sc.values.sum - 1.0) < 1e-9, "rank mass not conserved")
  }

  test("graph_components: two seeded components converge separately, never merge") {
    // component A: customer 1 (node 2) trades with suppliers 1,2 (nodes
    // 3,5); component B: customer 2 (node 4) with supplier 10 (node 21).
    // 8 rounds >> both diameters, so each component collapses to its min
    // node id — and the two must never share a label.
    val orders = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 1L), (1L, 2L), (2L, 10L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphComponents(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((2L, 3L, 2L), (4L, 2L, 4L)), s"got ${out.toSeq}")
  }

  test("graph_components_conv: early exit at the proving round, census identical to the fixed form") {
    // same two-component seed as graph_components: both components have
    // diameter ≤ 2, so labels converge in round 1 and round 2 proves the
    // fixpoint (zero changes) — exit_round must be 2, and the census must
    // be the fixed-round census plus the exit_round column.
    val orders = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 1L), (1L, 2L), (2L, 10L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphComponentsConv(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((2L, 3L, 2L, 2L), (4L, 2L, 4L, 2L)), s"got ${out.toSeq}")
    val fixed = GraphOps.graphComponents(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq === fixed.toSeq,
      "conv census must equal the fixed-round census (fixpoint invariance)")
  }

  test("graph_betweenness: analytic Brandes dependencies on a path graph, both endpoints sampled") {
    // path 64—3—66—5—128 (customers 32,33,64 → ids 64,66,128; suppliers
    // 1,2 → ids 3,5); seeds = ids ≡ 0 mod 64 = {64, 128}, the two
    // endpoints. All σ = 1, so dependencies are pure path-counting:
    // from 64: δ(3)=3, δ(66)=2, δ(5)=1; from 128 the mirror — every
    // interior node's betweenness is exactly 4, ties cut by id.
    val orders = Seq((1L, 32L), (2L, 33L), (3L, 33L), (4L, 64L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphBetweenness(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === Seq((3L, 4.0), (5L, 4.0), (66L, 4.0)),
      s"got ${out.toSeq}")
    // harmonic closeness over the same path and seeds: interior nodes
    // sum 1/d from both ends (3: 1+1/3; 66: 1/2+1/2; 5: 1/3+1); each
    // seed is reached only by the other, four hops away (1/4)
    val cl = GraphOps.graphCloseness(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(cl.toSeq === Seq(
      (3L, 1.333333, 2L), (5L, 1.333333, 2L), (66L, 1.0, 2L),
      (64L, 0.25, 1L), (128L, 0.25, 1L)), s"got ${cl.toSeq}")
  }

  test("graph_hits_conv: immediate fixpoint exits at the minimum round, real data exits data-dependently") {
    // single customer → two suppliers: the authority vector is uniform
    // from round 1 (both suppliers receive the only hub's score), so
    // a_2 = a_1, the residual is exactly 0, and the exit fires at the
    // MINIMUM possible round (2 — residuals need a predecessor)
    val orders = Seq((1L, 1L), (2L, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 1L), (2L, 2L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphHitsConv(orders, lineitem).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.forall(_._4 === 2L), s"star must exit at round 2: ${out.toSeq}")
    val auth = out.filter(_._1 == "auth")
    assert(auth.map(_._3).toSeq === Seq(0.5, 0.5),
      s"star authorities must stay uniform: ${auth.toSeq}")
    assert(out.filter(_._1 == "hub").map(_._3).toSeq === Seq(1.0),
      "the sole hub must hold the whole normalized mass")
    // real graph: exit round 4 at sf0.001 (measured residual crosses
    // 1e-6 between rounds 3 and 4 with ≥4.4× margin) — and the exit
    // must be DATA-dependent, i.e. later than the star's trivial 2
    val o = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val real = GraphOps.graphHitsConv(o, li).collect()
    assert(real.forall(_.getLong(3) === 4L),
      s"sf0.001 must exit at round 4: ${real.map(_.getLong(3)).toSeq.distinct}")
    // converged scores: the top-10 id sets per side agree with the
    // fixed-6-round form (convergence ⇒ the cut is stable)
    val fixed = GraphOps.graphHits(o, li).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(real.map(r => (r.getString(0), r.getLong(1))).toSet === fixed,
      "converged top-10 id sets must match the fixed-round form")
  }

  test("graph_label_prop_conv: star orbit exits at the analytic round, real data exits data-dependently") {
    // 4-leaf star (hub = cust 1 → id 2; leaves = supps 1..4 → ids
    // 3,5,7,9): synchronous LPA oscillates with period 2 — l1 =
    // (hub 3, leaves 2), l2 = (hub 2, leaves 3), l3 = l1 — so the
    // orbit test labels(3)==labels(1) fires at EXACTLY round 3, and
    // the exit-round labeling l3 censuses as (community 2: the 4
    // leaves, min id 3) + (community 3: the hub alone)
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphLabelPropConv(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((2L, 4L, 3L, 3L), (3L, 1L, 2L, 3L)),
      s"got ${out.toSeq}")
    // real graph: orbit at round 4 on sf0.001 (the plain fixpoint
    // test NEVER fires — the per-round change count is a constant 160
    // forever, the bipartite oscillation this entry exists to handle);
    // exit at round E must reproduce the fixed form run for E rounds
    val o = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val real = GraphOps.graphLabelPropConv(o, li).collect()
    assert(real.forall(_.getLong(3) === 4L),
      s"sf0.001 must exit at round 4: ${real.map(_.getLong(3)).toSeq.distinct}")
    val fixed4 = GraphOps.graphLabelProp(o, li, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(real.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === fixed4, "conv labeling at exit round E must equal fixed-E")
  }

  test("graph_pagerank_conv: exits at the analytic residual round, ranks match the fixed loop") {
    // 4-leaf star: the update is linear, so the L1 residual is exactly
    // geometric — delta_r = delta_1 * 0.85^(r-1) with delta_1 = 1.02
    // (hub |0.71-0.2| + 4 leaves |0.0725-0.2|). First round below
    // tol=0.25 is r=10 (1.02*0.85^9 = 0.23627; round 9 sits at 0.27796).
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphPagerankConv(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.forall(_._3 === 10L), s"expected exit_round 10: ${out.toSeq}")
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-5, "rank mass not conserved")
    // the conv loop at its exit round must reproduce the fixed loop run
    // for the same count (per-round 1e-9 re-quantization is below the
    // 6-decimal output rounding, up to a boundary ulp)
    val fixed = GraphOps.graphPagerank(orders, lineitem, rounds = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach { case (id, pr, _) =>
      assert(math.abs(pr - fixed(id)) < 2e-6, s"node $id: conv $pr vs fixed ${fixed(id)}") }
  }

  test("graph_triangles: one seeded triangle found, counted once per corner, isolated pair excluded") {
    // customers 1,2 both buy from suppliers 1,2,3 → co-purchase edges
    // (1,2),(1,3),(2,3) with shared=2; customer 3 buys from 4,5 once →
    // (4,5) shared=1 falls under the p99 threshold (=2). Exactly one
    // triangle {1,2,3}, one count per corner.
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 4L), (3L, 5L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphTriangles(orders, lineitem).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got ${out.toSeq}")
  }

  test("q21_waiting_supplier: sole-late on multi-supplier F orders only; dims broadcast") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val day0 = "2024-01-01"
    def late = ts("2024-06-01"); def ontime = ts("2024-01-15")
    val orders = Seq(
      (1L, 1L, "F", 1.0, ts(day0), "p"),  // 2 supps, supp 1 late alone → counts
      (2L, 1L, "F", 1.0, ts(day0), "p"),  // 1 supp late → nsupp<2, excluded
      (3L, 1L, "F", 1.0, ts(day0), "p"),  // 2 supps BOTH late → nlate=2, excluded
      (4L, 1L, "O", 1.0, ts(day0), "p"))  // open order → excluded
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val lineitem = Seq(
      (1L, 1L, late), (1L, 2L, ontime),
      (2L, 1L, late),
      (3L, 1L, late), (3L, 2L, late),
      (4L, 1L, late), (4L, 2L, ontime))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val supplier = Seq((1L, "supp#1", 0), (2L, "supp#2", 0))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val nation = Seq((0, "N0", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val q = AuditQueries.q21WaitingSupplier(supplier, nation, orders, lineitem)
    val out = q.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(("supp#1", "N0", 1L)), s"got ${out.toSeq}")
    // both dims enter as broadcast joins (bounded tables never shuffle)
    val plan = q.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected both dim joins broadcast:\n$plan")
  }

  test("graph_ktruss: diamond cascade peels in two rounds; stored twin replays the trajectory") {
    // diamond = two triangles sharing edge BC (suppliers A..D = 1..4;
    // edges AB,AC,BC,BD,CD, each seeded by 2 customers buying exactly
    // that pair → all co-purchase shared=2 = the 0.90-percentile →
    // every edge kept). 4-truss (support ≥ 2): round 1 keeps only BC
    // (common neighbors {A,D}) — the four outer edges each close ONE
    // triangle; round 2 removes BC (its support collapsed with its
    // neighbors) — a real cascade, invisible to a one-shot filter
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val orders = (1L to 10L).map(k => (k, k)).toDF("o_orderkey", "o_custkey")
    val lineitem = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2 * i + 1L, u), (2 * i + 1L, v), (2 * i + 2L, u), (2 * i + 2L, v))
    }.toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphKtruss(orders, lineitem, k = 4, rounds = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq((0, 5L, 1L), (1, 1L, 2L), (2, 0L, -1L)),
      s"got ${out.toSeq}")
    // stored serving path: identical trajectory off the bucketed layout
    val o = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val full = GraphOps.graphKtruss(o, li).collect().map(_.toString).toSeq
    val stored = GraphOps.graphKtrussStored(spark, o, li, sf0001)
      .collect().map(_.toString).toSeq
    assert(full === stored, s"stored twin diverged: $full vs $stored")
  }

  test("graph_random_walk: walks follow edges, leaves must hop to the hub, rerun is identical") {
    // 4-leaf star (hub 2; leaves 3,5,7,9): a leaf's only neighbor is
    // the hub, so every walker AT a leaf hops to 2 regardless of the
    // md5 draw (outdeg=1 ⇒ pick=1); a walker at the hub picks an
    // md5-determined leaf. 5 walkers × (1+4 steps) = 25 rows.
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphRandomWalk(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length === 25, s"expected 25 walker-steps, got ${out.length}")
    val byWalker = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3))
    byWalker.foreach { case (start, path) =>
      assert(path.head === start, s"walker $start must start at itself")
      path.toSeq.sliding(2).foreach { w =>
        assert(w(0) == 2L ^ w(1) == 2L,
          s"star walk must alternate hub/leaf: $start walked ${path.toSeq}")
      }
    }
    // rerun determinism: the md5 coin has no RNG state
    val again = GraphOps.graphRandomWalk(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq === again.toSeq, "rerun must be byte-identical")
    // real graph: every hop is a genuine edge (validity at sf0.001)
    val o = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val walks = GraphOps.graphRandomWalk(o, li, steps = 2)
    import org.apache.spark.sql.functions.{col, expr}
    val pairsDf = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edgesDf = pairsDf.unionByName(pairsDf.select(col("dst").as("src"), col("src").as("dst")))
    val hops = walks.as("a").join(walks.as("b"),
        expr("a.start_id = b.start_id AND b.step = a.step + 1"))
      .select(col("a.node").as("src"), col("b.node").as("dst"))
    val bad = hops.join(edgesDf, Seq("src", "dst"), "left_anti").count()
    assert(bad === 0L, s"$bad walk hops are not graph edges")
  }

  test("graph_random_walk_biased: no-backtrack bias holds at extreme p; step 1 matches the uniform walk") {
    // star: with 1/p ~ 0 a walker at the hub must never return to the
    // leaf it came from — the return weight is crushed while the other
    // three leaves carry 1/q each. (From a leaf the hub is the ONLY
    // candidate, so the walk still alternates.)
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphRandomWalkBiased(orders, lineitem,
        steps = 6, retP = 1e9, outQ = 0.5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val paths = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    paths.foreach { case (start, path) =>
      path.toSeq.sliding(3).foreach { w =>
        if (w.length == 3 && w(1) == 2L)
          assert(w(0) != w(2),
            s"hub must not backtrack at p=1e9: $start walked ${path.toSeq}")
      }
    }
    // steps 0–1 are the first-order uniform pick — byte-identical to
    // graph_random_walk's (same md5 seed string, same rank join)
    val o = Tables.orders(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val bi = GraphOps.graphRandomWalkBiased(o, li, steps = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).filter(_._2 <= 1).sorted
    val un = GraphOps.graphRandomWalk(o, li, steps = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(bi.toSeq === un.toSeq, "biased steps 0-1 must equal the uniform walk")
  }

  test("graph_walk_pairs: band self-join yields 14 pairs per walker, census is symmetric") {
    // star, 5 walkers, 4 steps, window 2: positions within distance<=2
    // of each other = 7 unordered position pairs x 2 directions = 14
    // pair instances per walker, 70 total; emitting both directions
    // makes the (center, context) census exactly symmetric
    val orders = (1L to 4L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 4L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphWalkPairs(orders, lineitem).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.values.sum === 70L, s"expected 70 pair instances: $out")
    out.foreach { case ((c, x), n) =>
      assert(out.getOrElse((x, c), 0L) === n,
        s"census must be symmetric: ($c,$x)=$n vs reverse ${out.get((x, c))}")
    }
  }

  test("win_attribution: last preceding click wins; organic and future clicks excluded") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val events = Seq(
      (1L, 1L, "purchase", ts(5)),  // organic: no click before
      (2L, 1L, "click", ts(10)),
      (3L, 1L, "click", ts(15)),    // the LAST preceding click
      (4L, 1L, "view", ts(20)),
      (5L, 1L, "purchase", ts(30)), // latency = 15 s
      (6L, 1L, "click", ts(40)))    // future click must not attribute
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = WindowOps.winAttribution(events).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(out.toSeq === Seq(
      (1L, None, None),
      (5L, Some(base + 15), Some(15L))), s"got ${out.toSeq}")
  }

  test("pipeline_length_buckets: threshold buckets, batch ceil, padding efficiency") {
    val docs = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),
      (2L, Seq.fill(20)("w").mkString(" ")),
      (3L, Seq.fill(100)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = PipelineOps.pipelineLengthBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(out.toSeq === Seq(
      (16L, 1L, 256L, 1L, 0.625),
      (32L, 1L, 128L, 1L, 0.625),
      (128L, 1L, 32L, 1L, 0.78125)), s"got ${out.toSeq}")
  }

  test("fn_rounding: HALF_UP and HALF_EVEN differ on exactly the odd boundaries") {
    val orders = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("o_orderkey")
    val out = graft.functions.FuncOps.roundingFns(orders).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, 2.0, 2.0, false),  // 1.5: up→2, even→2
      (2L, 3.0, 2.0, true),   // 2.5: up→3, even→2
      (3L, 4.0, 4.0, false),  // 3.5: up→4, even→4
      (4L, 5.0, 4.0, true)), s"got ${out.toSeq}")
  }

  test("fn_struct: withField updates/adds, dropFields removes from the JSON form") {
    val customer = Seq((1L, "BUILDING", 42.5, 7L))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal", "c_nationkey")
    val r = graft.functions.FuncOps.structFns(customer).collect().head
    assert(r.getString(2) === "building", "withField update must lowercase")
    assert(r.getLong(3) === 4250L && r.getString(4) === "standard")
    val json = r.getString(5)
    assert(json.contains("\"band\":\"standard\""), s"added field missing: $json")
    assert(!json.contains("nation"), s"dropped field leaked into: $json")
  }

  test("win_rolling_regression: perfect line gives the exact slope, degenerate frame gives NULL") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val events = Seq(
      (1L, 10L, ts(1), 1.00), (1L, 11L, ts(2), 2.00), (1L, 12L, ts(3), 3.00))
      .toDF("user_id", "event_id", "ts", "value")
    val out = WindowOps.winRollingRegression(events).collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.toSeq === Seq(
      (1L, None), (2L, Some(100.0)), (3L, Some(100.0))), s"got ${out.toSeq}")
  }

  test("pipeline_split: shares close per source, splits are the canonical three") {
    val out = PipelineOps.pipelineSplit(Tables.documents(spark, sf0001)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(4)))
    assert(out.nonEmpty)
    assert(out.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    out.groupBy(_._1).foreach { case (src, rows) =>
      val share = rows.map(_._4).sum
      assert(math.abs(share - 1.0) < 1e-4, s"$src shares sum to $share")
    }
    val total = out.map(_._3).sum
    assert(total === Tables.documents(spark, sf0001).count(),
      "splits must partition the corpus exactly")
  }

  test("sim_maxsim: part-permuted doc scores like the identical doc; collapsed doc scores 1") {
    // query parts P1..P4 are one-hot at dims 0,16,32,48. A doc with the
    // SAME parts in reverse order must score exactly like the identical
    // doc (late interaction is a bag of vectors), while a doc whose four
    // parts are all P1 matches only query part 1.
    def p(i: Int): Seq[Float] = // part P_i: one-hot at local dim i-1
      (0 until 16).map(d => if (d == i - 1) 1.0f else 0.0f)
    def vec(parts: Seq[Int]): Array[Float] =
      parts.flatMap(i => p(i)).toArray
    val rows = Seq(
      (0L, vec(Seq(1, 2, 3, 4))),  // query
      (1L, vec(Seq(1, 2, 3, 4))),  // identical
      (2L, vec(Seq(4, 3, 2, 1))),  // permuted parts
      (3L, vec(Seq(1, 1, 1, 1))))  // collapsed
    val emb = rows.toDF("vec_id", "embedding")
    val out = SimOps.simMaxSim(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 4.0 && out(2L) === 4.0, s"permutation broke MaxSim: $out")
    assert(out(3L) === 1.0, s"collapsed doc must score 1.0: $out")
  }

  test("sim_hybrid_rrf: fusion score recomputes from the leg ranks, order is by fused score") {
    val out = SparkEntry.queries("sim_hybrid_rrf")(spark, sf0001).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getDouble(3)))
    assert(out.length === 10)
    out.foreach { case (_, lr, vr, rrf) =>
      val expected = lr.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vr.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(rrf === math.round(expected * 1e6) / 1e6, s"rrf mismatch: $lr $vr $rrf")
      assert(lr.isDefined || vr.isDefined, "a fused row must come from some leg")
    }
    assert(out.map(_._4).sliding(2).forall(p => p(0) >= p(1)), "not sorted by rrf")
  }

  test("sink_vacuum: exactly the planted debris removed, committed data intact") {
    val r = SparkEntry.queries("sink_vacuum")(spark, sf0001).collect().head
    assert(r.getInt(3) === 2, "vacuum must remove exactly the 2 orphans")
    assert(r.getBoolean(4), "survivors must equal the manifest set")
    assert(r.getLong(0) === Tables.orders(spark, sf0001).count())
  }

  test("scan_corrupt_files_skip: tolerant read skips the garbage the default read dies on") {
    val r = SparkEntry.queries("scan_corrupt_files_skip")(spark, sf0001)
      .collect().head
    assert(r.getLong(0) === Tables.orders(spark, sf0001).count(),
      "tolerant read must see exactly the good shards")
    // same directory, default strictness: the bad footer must FAIL the job
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_etl",
      sf0001.replaceAll("[^a-zA-Z0-9]", "_"), "orders_corruptmix").toString
    assert(spark.conf.get("spark.sql.files.ignoreCorruptFiles") === "false",
      "entry must restore the strict default")
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
  }

  test("scan_parquet_bloom: the bloom filter physically lands in the written footers") {
    SparkEntry.queries("scan_parquet_bloom")(spark, sf0001).collect()
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_etl",
      sf0001.replaceAll("[^a-zA-Z0-9]", "_"), "orders_bloom")
    val part = java.nio.file.Files.list(dir).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.head
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val custkey = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "o_custkey").get
      assert(custkey.getBloomFilterOffset > 0,
        "o_custkey column chunk carries no bloom filter")
      val other = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "o_orderkey").get
      assert(other.getBloomFilterOffset <= 0,
        "bloom must be scoped to the declared column only")
    } finally reader.close()
  }

  test("sink_manifest_commit: orphan planted after the commit stays invisible") {
    val r = SparkEntry.queries("sink_manifest_commit")(spark, sf0001).collect().head
    assert(r.getBoolean(4), "orphan file leaked into the manifest read")
    assert(r.getLong(0) === Tables.orders(spark, sf0001).count(),
      "manifest read must see exactly the committed rows")
  }

  test("win_streak: islands split on gaps; longest-streak tie breaks to the latest start") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // user 1: days 1,2,3 then 5,6 → streaks (3, 2); user 2: 1,2 then 4,5
    // → two len-2 streaks, tie must resolve to the LATER start (Jan 4)
    val events = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(3)), (1L, ts(5)), (1L, ts(6)),
      (1L, ts(6)), // duplicate-day event must not inflate the streak
      (2L, ts(1)), (2L, ts(2)), (2L, ts(4)), (2L, ts(5)))
      .toDF("user_id", "ts")
    val out = WindowOps.winStreak(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq === Seq(
      (1L, 2L, 5L, 3L, "2024-01-01"),
      (2L, 2L, 4L, 2L, "2024-01-04")), s"got ${out.toSeq}")
  }

  test("text_perplexity_filter: census closes, threshold is the nearest-rank decile") {
    val docs = Tables.documents(spark, sf0001)
    val out = TextOps.textPerplexityFilter(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) === r.getLong(3) + r.getLong(4) + r.getLong(5),
        s"census must close: $r")
    }
    // recompute the nearest-rank decile from the scored grid directly
    val ks = TextOps.textBigramLm(docs)
      .select((round(col("avg_logp") * 1e6)).cast("long")).collect()
      .map(_.getLong(0)).sorted
    val thrK = ks(math.ceil(ks.length * 0.10).toInt - 1)
    val thrOut = out.head.getDouble(1)
    assert(thrOut === math.round(thrK / 1e6 * 1e6) / 1e6, s"thr $thrOut vs grid $thrK")
    val quarantined = out.map(_.getLong(4)).sum
    assert(quarantined === ks.count(_ <= thrK).toLong,
      "quarantine count must equal the at-or-below-threshold population")
  }

  test("agg_ks_test: disjoint supports give D=1 and reject; identical samples give D=0") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // 10-a-side keeps the asymptotic critical value (1.358·√(20/100) ≈
    // 0.607) below the D=1 a disjoint support produces
    val disjoint = ((1 to 10).map(i => ("click", i / 100.0, ts)) ++
      (1 to 10).map(i => ("view", 1.0 + i / 100.0, ts)))
      .toDF("event_type", "value", "ts")
    val r1 = AggOps.aggKsTest(disjoint).collect().head
    assert(r1.getDouble(2) === 1.0 && r1.getBoolean(4), s"got $r1")
    val same = Seq(
      ("click", 0.01, ts), ("click", 0.02, ts),
      ("view", 0.01, ts), ("view", 0.02, ts))
      .toDF("event_type", "value", "ts")
    val r2 = AggOps.aggKsTest(same).collect().head
    assert(r2.getDouble(2) === 0.0 && !r2.getBoolean(4), s"got $r2")
  }

  test("pipeline_leakage_audit: a seeded cross-split near-dup flags, same-split does not") {
    def firstHex(id: Long): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.head
    }
    def split(id: Long): String = {
      val h = firstHex(id)
      if (h < 'c') "train" else if (h < 'e') "val" else "test"
    }
    val ids = (1L to 300L)
    val trainId = ids.find(split(_) == "train").get
    val valId = ids.find(split(_) == "val").get
    val trainId2 = ids.filter(split(_) == "train").drop(1).head
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val noise = (1 to 30).map(i => s"unique$i word$i filler$i").zipWithIndex
    val docs = (Seq(
      (trainId, dup), (valId, dup),          // cross-split near-dup → leak
      (trainId2, dup + " x")) ++             // same-split near-dup → no leak
      noise.map { case (t, i) => (1000L + i, t) })
      .toDF("doc_id", "text")
    val out = PipelineOps.pipelineLeakageAudit(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getBoolean(5))).toMap
    val leakKeys = out.keySet.filter(k => out(k))
    assert(leakKeys.exists(k => Set(k._1, k._2) == Set("train", "val")),
      s"seeded train/val near-dup not flagged: $out")
    assert(out.get(("train", "train")).contains(false),
      s"same-split pair must not be a leak: $out")
  }

  test("pipeline_epoch_shuffle: each epoch a complete permutation, epochs genuinely differ") {
    val docs = Tables.documents(spark, sf0001)
    val n = docs.count()
    val out = PipelineOps.pipelineEpochShuffle(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet === Set(1, 2))
    byEpoch.foreach { case (ep, rows) =>
      assert(rows.map(_._3).sum === n, s"epoch $ep is not a complete permutation")
      // every shard full except possibly the last
      val sorted = rows.sortBy(_._2)
      assert(sorted.init.forall(_._3 === 64L), s"epoch $ep has a short mid-shard")
    }
    val fp = (ep: Int) => byEpoch(ep).sortBy(_._2).map(_._4).toSeq
    assert(fp(1) !== fp(2), "epochs must reshuffle")
    // determinism: a re-run produces identical fingerprints
    val again = PipelineOps.pipelineEpochShuffle(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(4))).toSeq
    assert(again === out.map(t => (t._1, t._2, t._4)).toSeq)
  }

  test("agg_benford: structural first digits, log-law expectation per digit") {
    val df = Seq(100.5, 123.0, 19.0, 20.0, 250.0, 311.0, 95.0)
      .map(Tuple1(_)).toDF("o_totalprice")
    val out = AggOps.aggBenford(df).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(1, 2, 3, 9))
    assert(out(1)._1 === 3L && out(1)._2 === 0.428571)
    assert(out(1)._3 === 0.30103, "Benford P(1) must be log10(2)")
    assert(out(9)._3 === 0.045757, s"Benford P(9): ${out(9)._3}")
  }

  test("agg_gini: equal distribution scores 0, near-total concentration scores high") {
    def doc(src: String, id: Long, toks: Int) =
      (src, id, Seq.fill(toks)("w").mkString(" "))
    val docs = (
      (1L to 4L).map(i => doc("even", i, 25)) ++
      (Seq(doc("skewed", 10L, 1), doc("skewed", 11L, 1),
        doc("skewed", 12L, 1), doc("skewed", 13L, 97))))
      .toDF("source", "doc_id", "text")
    val out = AggOps.aggGini(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("even") === 0.0, s"equal split must be Gini 0: $out")
    assert(out("skewed") > 0.5, s"concentration not detected: $out")
  }

  test("agg_percentile_disc: nearest-rank returns actual data values, ceil(p*n) index") {
    // values (cents) 1000,2000,3000,4000: p25→idx 1, p50→idx 2, p95→idx 4
    val df = Seq(("A", 10.0), ("A", 20.0), ("A", 30.0), ("A", 40.0))
      .toDF("l_returnflag", "l_extendedprice")
    val r = AggOps.aggPercentileDisc(df).collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((1000L, 2000L, 4000L)),
      s"got $r")
  }

  test("q_execute_immediate: dynamic statement equals its literal spelling") {
    val orders = Tables.orders(spark, sf0001)
    val dynamic = graft.operators.AuditQueries.qExecuteImmediate(spark, orders)
      .collect().toSeq
    orders.createOrReplaceTempView("orders_ei_lit")
    val literal = spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
             AS total
         FROM orders_ei_lit WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""").collect().toSeq
    assert(dynamic === literal)
  }

  test("agg_ab_test: hand-computed Welch t and Satterthwaite df on a seeded day") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // clicks (cents): 10, 20 → ma=15, va=50; views: 10, 10, 40 → mb=20,
    // vb=300; t = −5/√125 = −0.447214, df = 125²/(625+5000) = 2.777778
    val events = Seq(
      ("click", 0.10, ts), ("click", 0.20, ts),
      ("view", 0.10, ts), ("view", 0.10, ts), ("view", 0.40, ts),
      ("error", 9.99, ts)) // non-arm types must be excluded
      .toDF("event_type", "value", "ts")
    val r = AggOps.aggAbTest(events).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "2024-01-01")
    assert((row.getLong(1), row.getLong(2)) === ((2L, 3L)))
    assert(row.getDouble(3) === 15.0 && row.getDouble(4) === 20.0)
    assert(row.getDouble(5) === -0.447214, s"t ${row.getDouble(5)}")
    assert(row.getDouble(6) === 2.777778, s"df ${row.getDouble(6)}")
  }

  test("agg_chi2: uniform-margin 2x2 table gives equal expecteds and the textbook total") {
    // o = [[10,20],[20,10]]: every margin 30, n=60 → e=15 everywhere,
    // contrib = 25/15 = 1.666667 per cell, chi2 = 6.6667
    val rows = Seq.fill(10)(("A", "O")) ++ Seq.fill(20)(("A", "F")) ++
      Seq.fill(20)(("B", "O")) ++ Seq.fill(10)(("B", "F"))
    val df = rows.toDF("l_returnflag", "l_linestatus")
    val out = AggOps.aggChi2(df).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getDouble(3) === 15.0, s"expected $r")
      assert(r.getDouble(4) === 1.666667, s"contrib $r")
      assert(r.getDouble(5) === 6.6667, s"total $r")
    }
  }

  test("sim_ivf_nprobe_sweep: recall monotone in probe count, self-consistent census") {
    val out = SimOps.simIvfNprobeSweep(Tables.embeddings(spark, sf0001)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === Seq(1, 2, 4, 8))
    assert(out.forall(_._2 === 10L))
    out.foreach { case (_, k, h, rec) =>
      assert(rec === math.round(h.toDouble / k * 1e6) / 1e6)
    }
    // probing MORE cells can only find MORE of the exact top-k
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      s"recall not monotone in nprobe: ${out.toSeq}")
  }

  test("sim_ivf_recall_curve: per-k census consistent, @10 equals the single-k audit") {
    val emb = Tables.embeddings(spark, sf0001)
    val curve = SimOps.simIvfRecallCurve(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(curve.map(_._1).toSeq === Seq(1, 3, 5, 10))
    curve.foreach { case (k, h, rec) =>
      assert(h >= 0 && h <= k, s"hits out of range at k=$k")
      assert(rec === math.round(h.toDouble / k * 1e6) / 1e6)
    }
    // cumulative hits can only grow with k
    assert(curve.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    val single = SimOps.simIvfRecall(emb).collect().head
    assert(curve.last._2 === single.getLong(1),
      "curve@10 must equal the single-k audit")
  }

  test("agg_weighted_stats: hand-computed weighted moments on a two-row group") {
    // group A: (w=2, x=10), (w=3, x=20) → sw=5, wmean=16,
    // wvar = (2·100+3·400)/5 − 16² = 24, wstd = √24
    val df = Seq(("A", 2.0, 10.0), ("A", 3.0, 20.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val r = AggOps.aggWeightedStats(df).collect().head
    assert(r.getString(0) === "A" && r.getLong(1) === 5L)
    assert(r.getDouble(2) === 16.0 && r.getDouble(3) === 24.0)
    assert(r.getDouble(4) === math.round(math.sqrt(24.0) * 1e6) / 1e6)
  }

  test("q_not_in_nulls: NULL in the NOT IN list empties the result; anti-join legs agree") {
    val customer = Seq((1L, -5.0), (2L, 10.0)).toDF("c_custkey", "c_acctbal")
    val orders = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("o_orderkey", "o_custkey")
    val r = graft.operators.AuditQueries.qNotInNulls(spark, orders, customer)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 2L, 2L)), s"got $r")
  }

  test("graph_label_prop: majority label beats min label, ties break to smallest") {
    // s2 (node 5) serves customers c1,c2,c3; s1 (node 3) serves only c1.
    // After round 1 the customers carry labels {3,5,5}, so round 2's MODE
    // vote at s2 must pick 5 (count 2) over the MIN 3 — the assertion that
    // separates label propagation from the components min-kernel. Four
    // synchronous rounds land at c*=2, s1=3, s2=5 (traced by hand).
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1L, 1L), (1L, 2L), (2L, 2L), (3L, 2L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphLabelProp(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((2L, 3L, 2L), (3L, 1L, 3L), (5L, 1L, 5L)),
      s"got ${out.toSeq}")
  }

  test("graph_triangles_stored equals the in-query builder at the layout's percentile") {
    val fromLayout = SparkEntry.queries("graph_triangles_stored")(spark, sf0001)
      .collect().toSeq
    val inQuery = GraphOps.graphTriangles(
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001), pct = 0.90)
      .collect().toSeq
    assert(fromLayout === inQuery, s"layout $fromLayout vs in-query $inQuery")
  }

  test("graph_kcore_stored serves the identical trajectory from the co-purchase layout") {
    val a = SparkEntry.queries("graph_kcore")(spark, sf0001).collect().toSeq
    val b = SparkEntry.queries("graph_kcore_stored")(spark, sf0001).collect().toSeq
    assert(a === b, s"in-query $a vs stored $b")
  }

  test("stored kNN layout: cluster and hard-negative serving match the in-query builds") {
    val a1 = SparkEntry.queries("sim_knn_cluster")(spark, sf0001).collect().toSeq
    val b1 = SparkEntry.queries("sim_knn_cluster_stored")(spark, sf0001).collect().toSeq
    assert(a1 === b1, s"cluster: $a1 vs $b1")
    val a2 = SparkEntry.queries("pipeline_hard_negatives")(spark, sf0001).collect().toSeq
    val b2 = SparkEntry.queries("pipeline_hard_negatives_stored")(spark, sf0001)
      .collect().toSeq
    assert(a2 === b2, s"hard negatives differ")
  }

  test("stored adjacency: the layout is bucketed at the session's shuffle width") {
    val name = GraphOps.ensureAdjacencyTable(spark,
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001), sf0001)
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .bucketSpec
    assert(spec.map(_.numBuckets) ===
      Some(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      s"$name bucket spec $spec")
  }

  test("graph_random_walk_biased_stored: same rows in order at widths 4 and 8, each from its own layout") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def at(width: Int): (String, Seq[Row]) = {
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      val name = GraphOps.ensureAdjacencyTable(spark,
        Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001), sf0001)
      val rows = SparkEntry.queries("graph_random_walk_biased_stored")(spark, sf0001)
        .collect().toSeq
      (name, rows)
    }
    val (name4, rows4) = try at(4) finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val (name8, rows8) = try at(8) finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try {
      assert(name4 != name8, s"widths 4 and 8 share the layout $name4")
      assert(rows4.nonEmpty)
      assert(rows4 === rows8, "biased walk output depends on the layout width")
    } finally StoredLayout.drop(spark, name8)
  }

  test("biased walk: a loop that throws at its step-1 checkpoint leaves no cache behind") {
    spark.catalog.clearCache()
    // the neighbor role is persisted before the loop; the failing dst
    // surfaces only when the step-1 checkpoint computes it
    val edges = spark.range(8).select(col("id").as("src"),
      when(col("id") === 5, raise_error(lit("edge 5 is broken")))
        .otherwise(col("id") + 1).as("dst"))
    val e = intercept[Exception](GraphOps.biasedWalkLoop(edges, 4, 2.0, 0.5))
    assert(e.toString.contains("edge 5 is broken") ||
      Option(e.getCause).exists(_.toString.contains("edge 5 is broken")), e.toString)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the biased walk's neighbor role is still cached after the loop threw")
  }

  test("graph_bfs_stored serves identical distance rings from the bucketed layout") {
    val a = SparkEntry.queries("graph_bfs")(spark, sf0001).collect().toSeq
    val b = SparkEntry.queries("graph_bfs_stored")(spark, sf0001).collect().toSeq
    assert(a === b, s"in-query $a vs stored $b")
  }

  test("graph_modularity_stored serves identical Q from the bucketed layout") {
    val a = SparkEntry.queries("graph_modularity")(spark, sf0001).collect().toSeq
    val b = SparkEntry.queries("graph_modularity_stored")(spark, sf0001).collect().toSeq
    assert(a === b, s"in-query $a vs stored $b")
  }

  test("graph_label_prop_stored serves the identical census from the bucketed layout") {
    val a = SparkEntry.queries("graph_label_prop")(spark, sf0001).collect().toSeq
    val b = SparkEntry.queries("graph_label_prop_stored")(spark, sf0001).collect().toSeq
    assert(a === b, s"in-query $a vs stored $b")
  }

  test("graph_hits: single-hub star — hub mass 1, authorities split into exact thirds") {
    // one customer (node 2) buys from suppliers 1..3: the only hub holds
    // all hub mass, each authority gets exactly 1/3 at every round.
    val orders = (1L to 3L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 3L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphHits(orders, lineitem).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      ("auth", 3L, 0.333333), ("auth", 5L, 0.333333), ("auth", 7L, 0.333333),
      ("hub", 2L, 1.0)), s"got ${out.toSeq}")
  }

  test("graph_assortativity: bipartite trade graph reads disassortative on real data") {
    val r = GraphOps.graphAssortativity(
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001))
      .collect().head
    assert(r.getLong(0) > 0)
    assert(r.getDouble(1) < 0, s"bipartite hub-leaf graph must be negative: $r")
    assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
  }

  test("graph_hits_stored serves identical scores from the bucketed layout") {
    val a = SparkEntry.queries("graph_hits")(spark, sf0001).collect().toSeq
    val b = SparkEntry.queries("graph_hits_stored")(spark, sf0001).collect().toSeq
    assert(a === b, s"in-query $a vs stored $b")
  }

  test("win_mad_outlier: spike after a stable window flags; constant series never does") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val stable = (1 to 8).map(i => (1L, i.toLong, ts(i), 10.0))
    val spike = Seq((1L, 9L, ts(9), 1000.0))
    val const = (1 to 9).map(i => (2L, 100L + i, ts(i), 5.0))
    val events = (stable ++ spike ++ const)
      .toDF("user_id", "event_id", "ts", "value")
    val out = WindowOps.winMadOutlier(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(5))).toSeq
    assert(out.count { case (u, e, o) => u == 1L && e == 9L && o } === 1,
      s"spike not flagged: $out")
    assert(out.filter(_._1 == 2L).forall(!_._3),
      s"constant series flagged: $out")
    // full-frame requirement: the first 8 events of user 1 can't flag
    assert(out.filter(t => t._1 == 1L && t._2 < 9L).forall(!_._3))
  }

  test("graph_modularity: bipartite star is anti-community — hand-computed Q = -0.5") {
    // star: customer 1 (node 2) ↔ suppliers 1..3 (nodes 3,5,7). LPA
    // oscillation lands at {2}:{3,5,7}; NO intra-community edge exists
    // (every edge crosses), so each community contributes 0 − (3/6)² =
    // −0.25 and Q = −0.5 — the classic bipartite anti-community signal.
    val orders = (1L to 3L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 3L).map(k => (k, k)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphModularity(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq === Seq(
      (2L, 1L, 0L, 3L, -0.25, -0.5),
      (3L, 3L, 0L, 3L, -0.25, -0.5)), s"got ${out.toSeq}")
  }

  test("text_code_detect: symbol density + whole-word keywords, prefix words don't match") {
    val docs = Seq(
      (1L, "def f(x); return (y);", 100L),   // 6 symbols, 2 keywords
      (2L, "the quick brown fox", 100L),      // prose
      (3L, "classic definition of intent", 100L)) // prefixes must NOT hit
      .toDF("doc_id", "text", "n_chars")
    val out = TextOps.textCodeDetect(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5)))
    assert(out.toSeq === Seq(
      (1L, 6L, 2L, true), (2L, 0L, 0L, false), (3L, 0L, 0L, false)),
      s"got ${out.toSeq}")
  }

  test("graph_kcore: pendant chain cascades off round by round, core survives") {
    // c1 buys {1,2,3,4} → K4 core; c2 buys {1,5} → pendant s5; c3 buys
    // {5,6} → pendant chain s6. All co-pairs share exactly 1 customer, so
    // the percentile threshold keeps every edge. Peeling at k=2: round 1
    // drops s6 (deg 1), round 2 drops s5 (its surviving degree fell to 1
    // when s6 left — the cascade), round 3 is stable at the K4.
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 1L), (2L, 5L), (3L, 5L), (3L, 6L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.graphKcore(orders, lineitem, k = 2, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0, 6L, 1L), (1, 5L, 1L), (2, 4L, 1L), (3, 4L, 1L)),
      s"got ${out.toSeq}")
  }

  test("agg_argmax: struct tie-break makes max_by/min_by deterministic on value ties") {
    val df = Seq(
      ("A", 100.0, 5L), ("A", 100.0, 9L), ("A", 50.0, 1L),
      ("B", 7.0, 3L), ("B", 7.0, 2L))
      .toDF("l_returnflag", "l_extendedprice", "l_orderkey")
    val r = AggOps.aggArgmax(df).collect().map(x => x.getString(0) -> x).toMap
    // max price ties broken toward the LARGER orderkey, min toward the smaller
    assert(r("A").getLong(1) === 9L && r("A").getLong(2) === 1L)
    assert(r("A").getDouble(3) === 100.0 && r("A").getDouble(4) === 50.0)
    assert(r("B").getLong(1) === 3L && r("B").getLong(2) === 2L)
  }

  test("agg_count_if: filtered counts and boolean folds on a hand-checked frame") {
    val df = Seq(
      ("A", 0.10, 1.0, 0.08, 100.0),
      ("A", 0.01, 2.0, 0.01, 50.0),
      ("B", 0.06, 0.0, 0.02, 10.0))
      .toDF("l_returnflag", "l_discount", "l_quantity", "l_tax", "l_extendedprice")
    val r = AggOps.aggCountIf(df).collect().map(x => x.getString(0) -> x).toMap
    assert(r("A").getLong(1) === 1 && r("A").getBoolean(2) && r("A").getBoolean(3))
    assert(r("A").getDouble(4) === 100.0)
    assert(r("B").getLong(1) === 1 && !r("B").getBoolean(2) && !r("B").getBoolean(3))
    assert(r("B").getDouble(4) === 10.0)
  }

  test("agg_skew_kurt: moments match the closed form on a hand-checked frame") {
    // values 1,2,3,6 — mean 3, m2 = 3.5, m3 = 4.5, m4 = 24.5
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 6.0))
      .toDF("l_returnflag", "l_quantity")
    val r = AggOps.aggSkewKurt(df).collect()
    assert(r.length === 1 && r(0).getLong(1) === 4L)
    val expSkew = 4.5 / math.pow(3.5, 1.5)
    val expKurt = 24.5 / (3.5 * 3.5) - 3.0
    assert(math.abs(r(0).getDouble(2) - expSkew) < 1e-6, s"skew ${r(0)}")
    assert(math.abs(r(0).getDouble(3) - expKurt) < 1e-6, s"kurt ${r(0)}")
  }

  test("agg_product: HOF fold is exact and bounded against long overflow") {
    // factors fold to q%9+1; 17 lines of quantity 50 -> 6^17, exact in LONG
    val wide = (1 to 17).map(i => (1L, 50.0)) :+ ((2L, 8.0))
    val df = wide.toDF("l_orderkey", "l_quantity")
    val r = AggOps.aggProduct(df).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 17L)
    assert(r(1L).getLong(2) === math.pow(6.0, 17).toLong) // 50%9+1 = 6
    assert(r(2L).getLong(2) === 9L)                        // 8%9+1 = 9
  }

  test("q_select_except: star modifier resolves to the explicit survivor set") {
    val out = AuditQueries.qSelectExcept(spark, Tables.customer(spark, sf0001))
    assert(out.columns.toSeq === Seq("c_custkey", "c_nationkey", "c_mktsegment"),
      "EXCEPT must drop exactly (c_name, c_acctbal) and keep declaration order")
    assert(out.count() > 0)
  }

  test("pipeline_dataset_card: census on a hand-checked corpus") {
    val docs = Seq(
      (1L, "a b c", "en", "web", 5L),
      (2L, "d  e", "en", "web", 150L),   // double space: 2 tokens, not 3
      (3L, "f", "fr", "web", 99L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = PipelineOps.datasetCard(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val en = r(("web", "en"))
    assert(en.getLong(2) === 2L && en.getLong(3) === 5L)
    assert(en.getDouble(5) === 77.5)   // median of (5, 150)
    assert(en.getDouble(6) === 0.5)    // one of two docs under 100 chars
    assert(r(("web", "fr")).getLong(3) === 1L)
  }

  test("property: native TopKPerGroup equals the reference top-k on random frames") {
    val rowsGen = Gen.nonEmptyListOf(for {
      key <- Gen.choose(0L, 4L)
      value <- Gen.choose(-100L, 100L)
      id <- Gen.choose(0L, 30L)
    } yield (key, value, id))
    val kGen = Gen.choose(1, 4)
    check(Prop.forAll(rowsGen, kGen) { (rows: List[(Long, Long, Long)], k: Int) =>
      val df = rows.toDF("g", "v", "id")
      val got = graft.plans.TopKOps
        .topKPerGroup(df, Seq("g"), Seq(("v", false), ("id", true)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      // reference: per group, first k rows under (v desc, id asc);
      // sorted-seq compare keeps row MULTIPLICITY visible
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy(t => (-t._2, t._3)).take(k)
      }.sorted
      got == expect
    })
  }

  test("TopKPerGroup partial-phase group cap: overflow rows stream through, result exact") {
    // cap the partial heap map at 2 live groups over a 40-group frame:
    // most rows must take the unreduced-overflow path, and the final
    // phase must still return exactly the window-form top-k
    spark.conf.set("spark.graft.topk.maxPartialGroups", "2")
    try {
      val rows = (0 until 4000).map { i =>
        (i % 40L, (i * 2654435761L) % 1000L, i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(8)
      val got = graft.plans.TopKOps
        .topKPerGroup(df, Seq("g"), Seq(("v", false), ("id", true)), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy(t => (-t._2, t._3)).take(3)
      }.sorted
      assert(got === expect, "capped partial phase changed the retained set")
    } finally spark.conf.unset("spark.graft.topk.maxPartialGroups")
  }

  test("agg_bitmap_distinct: bitmap counts are EXACT and survive re-merging") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = AggOps.aggBitmapDistinct(li).collect()
    got.foreach { r =>
      assert(r.getLong(1) === exact(r.getString(0)), s"direct bitmap count drifted: $r")
      assert(r.getLong(2) === exact(r.getString(0)), s"re-merged bitmap count drifted: $r")
    }
  }

  test("fn_bitwise: hand-computed masks, shifts, and popcounts") {
    val df = Seq((255L, 2L, 3L), (1024L, 7L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_linenumber")
    val r = graft.functions.FuncOps.bitwiseFns(df).collect()
      .map(x => x.getLong(0) -> x).toMap
    val a = r(255L)
    assert(a.getLong(2) === 255L && a.getLong(3) === 255L)   // and_low, or_flag
    assert(a.getLong(4) === (255L ^ 2L) && a.getLong(5) === 24L) // xor_mix, shl
    assert(a.getLong(6) === 15L && a.getInt(7) === 8)        // shr, popcount
    val b = r(1024L)
    assert(b.getLong(2) === 0L && b.getLong(3) === 1040L)
    assert(b.getLong(6) === 64L && b.getInt(7) === 1)
  }

  test("join_null_safe: NULL keys match NULL keys — no row lost, unlike ===") {
    val orders = Tables.orders(spark, sf0001)
    val nF = orders.filter(col("o_orderstatus") === "F").count()
    val res = JoinOps.nullSafe(orders).collect()
    val nullRow = res.find(_.isNullAt(0)).getOrElse(fail("null bucket missing"))
    assert(nullRow.getString(1) === "quarantine")
    assert(nullRow.getLong(2) === nF, "null<=>null must match every F order")
    assert(res.map(_.getLong(2)).sum === orders.count(),
      "null-safe join lost rows — that is the === behavior it exists to fix")
  }

  test("scan_constraints: injected violations flip exactly their own checks") {
    // clean base: unique (okey, line), quantity in range, price > 0, FK ok
    val clean = Seq((1L, 1, 5.0, 10.0), (1L, 2, 7.0, 20.0), (2L, 1, 3.0, 30.0))
    val orders = Seq(1L, 2L).toDF("o_orderkey")
    def report(rows: Seq[(java.lang.Long, Int, Double, Double)]) =
      graft.sources.EtlOps.scanConstraints(
        rows.toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        orders)
        .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    val ok = report(clean.map { case (k, l, q, p) => (java.lang.Long.valueOf(k), l, q, p) })
    assert(ok.values.forall(identity), s"clean table must pass every check: $ok")
    val bad = report(Seq(
      (java.lang.Long.valueOf(1L), 1, 5.0, 10.0),
      (java.lang.Long.valueOf(1L), 1, 99.0, -1.0), // dup key + range + price
      (null.asInstanceOf[java.lang.Long], 2, 3.0, 5.0), // null key
      (java.lang.Long.valueOf(7L), 1, 3.0, 5.0))) // orphan FK
    assert(!bad("key_duplicates") && !bad("quantity_range") &&
      !bad("price_positive") && !bad("null_orderkey") && !bad("fk_orphans"),
      s"each injected violation must flip its check: $bad")
    assert(bad("row_count"), "row_count stays green — rows exist")
  }

  test("agg_ewma: fold matches the hand-computed recurrence and respects event order") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(ts.getTime + s * 1000L)
    // out-of-order insertion; sorted by ts the series is 10, 20, 40
    val ev = Seq((3L, at(2), 40.0, 5L), (3L, at(0), 10.0, 1L), (3L, at(1), 20.0, 2L))
      .toDF("user_id", "ts", "value", "event_id")
    val out = AggOps.aggEwma(ev).collect()
    // seed 0: 0*.8+.2*10 = 2; 2*.8+.2*20 = 5.6; 5.6*.8+.2*40 = 12.48
    assert(out.length === 1 && out(0).getLong(1) === 3L)
    assert(math.abs(out(0).getDouble(2) - 12.48) < 1e-9,
      s"EWMA fold wrong or order ignored: ${out(0).getDouble(2)}")
  }

  test("join_fuzzy: deletion-variant blocking has recall 1.0 vs brute-force edit distance") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // 2-letter alphabet, short words → dense ed≤1 collisions, including
    // insert/delete pairs (not just substitutions)
    val word = for {
      n <- Gen.choose(1, 5)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    check(Prop.forAll(Gen.listOfN(12, word)) { words =>
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val vocab = words.toSet.filter(_.nonEmpty)
      val probes = vocab.filter(_.length >= 4).map(_.substring(1))
      val expected = for {
        p <- probes; w <- vocab; if lev(p, w) <= 1
      } yield (p, w, lev(p, w))
      val got = SimOps.joinFuzzy(docs).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      got == expected
    })
  }

  test("join_geo: grid decomposition equals brute force, and cross-cell pairs survive") {
    // 400×60 keys — small enough to brute-force in the test, large enough
    // that 147 of the 232 qualifying pairs straddle a cell boundary (the
    // case the 3×3 neighbor probe exists for)
    val cust = (1L to 400L).toDF("c_custkey")
    val supp = (1L to 60L).toDF("s_suppkey")
    val got = JoinOps.joinGeo(cust, supp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      c <- 1L to 400L; s <- 1L to 60L
      dx = c * 7919 % 10000 - s * 7919 % 10000
      dy = c * 104729 % 10000 - s * 104729 % 10000
      if dx * dx + dy * dy <= 250000L
    } yield (c, s, dx * dx + dy * dy)).toArray
    assert(got.toSet === expected.toSet, "grid join must equal the naive cross join")
    assert(got.length === expected.length, "each pair must be emitted exactly once")
    val crossCell = expected.count { case (c, s, _) =>
      (c * 7919 % 10000) / 500 != (s * 7919 % 10000) / 500 ||
        (c * 104729 % 10000) / 500 != (s * 104729 % 10000) / 500 }
    assert(crossCell > 0, "fixture must exercise the neighbor probe")
  }

  test("q_recursive_cte: 12-month spine, empty months report zero, totals conserved") {
    val orders = Tables.orders(spark, sf0001)
    val out = AuditQueries.qRecursiveCte(spark, orders).collect()
    assert(out.map(_.getInt(0)).toSeq === (1 to 12), "spine must be months 1..12 in order")
    val in1996 = orders.filter(expr("year(o_orderdate) = 1996")).count()
    assert(out.map(_.getLong(1)).sum === in1996,
      "per-month order counts must partition the 1996 orders exactly")
  }

  test("win_interpolate: hand-computed linear fill, edges clamp to nearest kept") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    // kept rows are event_id % 3 == 0: values 10 @ t=1s and 20 @ t=11s
    val events = Seq(
      (1L, 2L, ts(0), 99.0),  // before first kept -> clamps to 10
      (1L, 3L, ts(1), 10.0),  // kept
      (1L, 4L, ts(5), 77.0),  // masked: 10 + (20-10)*(4/10) = 14
      (1L, 6L, ts(11), 20.0), // kept
      (1L, 7L, ts(15), 5.0))  // after last kept -> clamps to 20
      .toDF("user_id", "event_id", "ts", "value")
    val got = WindowOps.winInterpolate(events)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(2L) === ((10.0, 89.0)))
    assert(got(3L) === ((10.0, 0.0)))
    assert(got(4L) === ((14.0, 63.0)))
    assert(got(6L) === ((20.0, 0.0)))
    assert(got(7L) === ((20.0, 15.0)))
  }

  test("q_pareto_skyline: crafted dominance cases + brute-force equality on the fixture") {
    import java.sql.Timestamp
    def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")
    // hand-crafted: duplicates survive together (no strict dominance),
    // equal-price-newer dominates, equal-date-cheaper dominates
    val crafted = Seq(
      (1L, 100.00, ts("1995-01-10")), // dominated by 2 (same price, newer)
      (2L, 100.00, ts("1995-03-10")), // skyline
      (3L, 150.00, ts("1995-02-01")), // dominated by 2 (cheaper AND newer)
      (4L, 150.00, ts("1995-06-01")), // skyline (newest)
      (5L, 90.00, ts("1995-01-01")),  // skyline (cheapest)
      (6L, 90.00, ts("1995-01-01")),  // duplicate of 5 — both survive
      (7L, 200.00, ts("1995-06-01"))  // dominated by 4 (cheaper, same date)
    ).toDF("o_orderkey", "o_totalprice", "o_orderdate")
    val got = SortSetOps.paretoSkyline(crafted).select("k").as[Long].collect().toSet
    assert(got === Set(2L, 4L, 5L, 6L), s"crafted skyline wrong: $got")
    // property: the bucketed-cummax plan equals the naive quadratic
    // dominance anti-join on the real fixture
    val orders = Tables.orders(spark, sf0001)
    val pts = orders.select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_c"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("dt"))
    val a = pts.as("a")
    val b = pts.select(col("price_c").as("bp"), col("dt").as("bd"))
    val brute = a.join(b,
        col("bp") <= col("price_c") && col("bd") >= col("dt") &&
          (col("bp") < col("price_c") || col("bd") > col("dt")), "left_anti")
      .select("k").as[Long].collect().toSet
    val fast = SortSetOps.paretoSkyline(orders).select("k").as[Long].collect().toSet
    assert(fast === brute, s"bucketed skyline != brute force: " +
      s"onlyFast=${(fast -- brute).take(5)} onlyBrute=${(brute -- fast).take(5)}")
  }

  test("ts_seasonal_decompose: hand-computed weekday means and residuals") {
    import java.sql.Timestamp
    // 2024-01-01 and 2024-01-08 are Mondays (counts 3, 5 → mean 4);
    // 2024-01-02 a Tuesday (count 2 → mean 2, residual 0)
    val rows =
      (1 to 3).map(i => (100L + i, Timestamp.valueOf(s"2024-01-01 10:00:0$i"))) ++
      (1 to 5).map(i => (200L + i, Timestamp.valueOf(s"2024-01-08 10:00:0$i"))) ++
      (1 to 2).map(i => (300L + i, Timestamp.valueOf(s"2024-01-02 10:00:0$i")))
    val events = rows.toDF("event_id", "ts")
    val got = QualityOps.tsSeasonalDecompose(events).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got("2024-01-01") === ((1, 3L, 4000000L, -1000000L)))
    assert(got("2024-01-08") === ((1, 5L, 4000000L, 1000000L)))
    assert(got("2024-01-02") === ((2, 2L, 2000000L, 0L)))
  }

  test("win_session_gap_sweep: 30m row equals sessionize's session count; dial is monotone") {
    val ev = Tables.events(spark, sf0001)
    val sweep = WindowOps.winSessionGapSweep(ev).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sessions = WindowOps.sessionize(ev).count()
    assert(sweep(30) === sessions,
      s"the 30m sweep row must equal the sessionize census: ${sweep(30)} vs $sessions")
    assert(sweep(5) >= sweep(30) && sweep(30) >= sweep(120),
      s"tighter gaps can only split sessions: $sweep")
  }

  test("agg_bootstrap_ci_grouped: every priority's interval brackets its point") {
    val rows = AggOps.aggBootstrapCiGrouped(Tables.orders(spark, sf0001)).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3) && r.getLong(3) <= r.getLong(5),
        s"group ${r.getString(0)}: point outside interval: $r")
    }
  }

  test("ts_holt_forecast: projections step linearly by the published trend off the last day") {
    val ev = Tables.events(spark, sf0001)
    val fitted = QualityOps.tsHolt(ev).orderBy(desc(("day"))).limit(1).collect()(0)
    val fc = QualityOps.tsHoltForecast(ev).collect()
    assert(fc.length === 7 && fc.map(_.getInt(0)).toSeq === (1 to 7))
    // each step adds exactly the published trend (within round-6 dust)
    val diffs = fc.sliding(2).map(p => p(1).getDouble(2) - p(0).getDouble(2)).toSeq
    diffs.foreach(d => assert(math.abs(d - fitted.getDouble(3)) < 2e-6,
      s"non-linear forecast step: $d vs trend ${fitted.getDouble(3)}"))
    // first forecast day is the day after the last fitted day
    assert(fc(0).getString(1) > fitted.getString(0))
  }

  test("events_markov_stationary: planted 2-state chain converges to (2/3, 1/3)") {
    import java.sql.Timestamp
    // one user walking A A B A A B A: from A the chain stays 50% / moves
    // 50%, from B it always returns — stationary is exactly (2/3, 1/3);
    // 8 power rounds from uniform leave < 0.5% residual (eigenvalue −1/2)
    val seq = Seq("A", "A", "B", "A", "A", "B", "A")
    val rows = seq.zipWithIndex.map { case (t, i) =>
      (i.toLong, 1L, t, Timestamp.valueOf(f"2024-01-01 00:0$i:00"))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val pi = AggOps.eventsMarkovStationary(rows).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(pi("A") - 666666L) < 5000, s"pi(A) off: $pi")
    assert(math.abs(pi("B") - 333333L) < 5000, s"pi(B) off: $pi")
    assert(math.abs(pi.values.sum - 1000000L) <= 2, "mass must renormalize")
  }

  test("agg_bootstrap_ci: constant column collapses the interval; real data brackets the point") {
    import java.sql.Date
    // constant values: every Poisson-weighted replica mean IS the value,
    // so the interval must collapse to the point exactly
    val const = (1 to 400)
      .map(i => (i.toLong, 50.0, "O", Date.valueOf("1995-01-01")))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate")
    val c = AggOps.aggBootstrapCi(const).collect()(0)
    assert(c.getInt(0) === 32 && c.getLong(1) === 400L)
    assert(c.getLong(2) === 500000L && c.getLong(3) === 500000L
      && c.getLong(4) === 500000L, s"constant data must collapse the CI: $c")
    // real data: lo <= point <= hi and the interval is non-degenerate
    val r = AggOps.aggBootstrapCi(Tables.orders(spark, sf0001)).collect()(0)
    assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(4),
      s"point estimate must sit inside the bootstrap interval: $r")
    assert(r.getLong(3) < r.getLong(4), "interval must be non-degenerate")
  }

  test("graph_clustering_coef: coefficients bounded; triangle counts match the stored census") {
    val coef = GraphOps.graphClusteringCoef(spark,
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001), sf0001)
      .collect()
    assert(coef.nonEmpty)
    coef.foreach { r =>
      val (deg, nTri, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(deg >= 2)
      assert(nTri <= deg * (deg - 1) / 2, s"triangles exceed wedge bound: $r")
      assert(ppm >= 0 && ppm <= 1000000L, s"coefficient out of [0,1]: $r")
    }
    // the per-node counts must agree with the stored triangle census
    val census = GraphOps.graphTrianglesStored(spark,
      Tables.orders(spark, sf0001), Tables.lineitem(spark, sf0001), sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byNode = coef.map(r => r.getLong(0) -> r.getLong(2)).toMap
    census.foreach { case (node, n) =>
      assert(byNode.getOrElse(node, 0L) === n,
        s"node $node: census says $n triangles, coef entry says ${byNode.get(node)}")
    }
  }

  test("events_transitions: hand-built streams yield the exact matrix and ppm rows") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // u1: view→click→view ; u2: view→click — transitions:
    // view→click ×2, click→view ×1; no cross-user transition may appear
    val rows = Seq(
      (10L, 1L, "view", ts("2024-01-01 00:00:00")),
      (11L, 1L, "click", ts("2024-01-01 00:01:00")),
      (12L, 1L, "view", ts("2024-01-01 00:02:00")),
      (20L, 2L, "view", ts("2024-01-01 00:00:30")),
      (21L, 2L, "click", ts("2024-01-01 00:01:30")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = AggOps.eventsTransitions(rows).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === 2)
    assert(got(("view", "click")) === ((2L, 1000000L)))
    assert(got(("click", "view")) === ((1L, 1000000L)))
  }

  test("events_retention: week-0 is always total, a returning user fills exactly their cells") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // users 1,2 join week A; user 1 returns 2 weeks later; user 3 joins
    // the next week and never returns
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-15 10:00:00")),
      (3L, ts("2024-01-09 10:00:00"))
    ).toDF("user_id", "ts")
    val got = graft.operators.AggOps.eventsRetention(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // every cohort's k=0 cell is the full cohort at 1000000 ppm
    val k0 = got.collect { case ((_, 0L), cell) => cell }
    assert(k0.nonEmpty && k0.forall { case (a, n, ppm) => a == n && ppm == 1000000L },
      s"week-0 must be total retention: $got")
    // user 1's return lands in its cohort's k=2 cell: 1 of 2 users
    val k2 = got.collect { case ((_, 2L), cell) => cell }
    assert(k2.toSeq === Seq((1L, 2L, 500000L)), s"got $got")
    // no other off-zero cells exist
    assert(got.size === 3, s"got $got")
  }

  test("events_rfm: five distinct users land one per quintile with the right segments") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // users 1..5: user i purchases i times, each of value 10·i, last
    // purchase on day 10+i — so freq, monetary, and recency ranks all
    // align: user 5 is freshest+heaviest (champion), user 1 the
    // opposite; with 5 users and k=5 every tile is a single user
    val rows = (1 to 5).flatMap { i =>
      (1 to i).map(j =>
        (i * 100L + j, i.toLong, "purchase",
          ts(f"2024-01-${10 + i}%02d 0$j:00:00"), 10.0 * i))
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = AggOps.eventsRfm(rows).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5), r.getInt(6),
          r.getString(7)))).toMap
    assert(got(5L) === ((5L, 5 * 5000L, 5, 5, 5, "champion")))
    assert(got(1L) === ((1L, 1000L, 1, 1, 1, "regular")))
    // user 4: freq 4 → f=4; recency rank 2nd freshest → r=4 ⇒ champion
    assert(got(4L)._6 === "champion")
    assert(got(2L)._4 === 2 && got(3L)._4 === 3, "freq quintiles follow counts")
  }

  test("events_rfm_census: segments partition the users; sums reconcile with the table") {
    val ev = Tables.events(spark, sf0001)
    val table = AggOps.eventsRfm(ev).collect()
    val census = AggOps.eventsRfmCensus(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(census.values.map(_._1).sum === table.length.toLong,
      "census user counts must partition the RFM table")
    val bySeg = table.groupBy(_.getString(7))
      .map { case (s, rs) => s -> ((rs.length.toLong, rs.map(_.getLong(3)).sum)) }
    assert(census === bySeg, s"census disagrees with the table: $census vs $bySeg")
  }

  test("ts_holt: hand-computed level/trend recurrence on a 3-day series") {
    import java.sql.Timestamp
    // counts 10/20/30 with alpha=.5, beta=.3, zero-trend init:
    // d1: l=10, b=0; d2: l=15, b=1.5; d3: l=.5*30+.5*16.5=23.25,
    // b=.3*8.25+.7*1.5=3.525
    val rows =
      (1 to 10).map(i => (100L + i, Timestamp.valueOf(s"2024-01-01 10:00:${10 + i}"))) ++
      (1 to 20).map(i => (200L + i, Timestamp.valueOf(s"2024-01-02 10:00:${10 + i}"))) ++
      (1 to 30).map(i => (300L + i, Timestamp.valueOf(s"2024-01-03 10:00:${10 + i}")))
    val events = rows.toDF("event_id", "ts")
    val got = QualityOps.tsHolt(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got("2024-01-01") === ((10L, 10.0, 0.0)))
    assert(got("2024-01-02") === ((20L, 15.0, 1.5)))
    assert(got("2024-01-03") === ((30L, 23.25, 3.525)))
  }

  test("events_funnel_summary: reached counts, ppm conversion, exact mean latency") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = "2024-01-01 00:00:00"
    // same population as the events_funnel spec: 5 entrants, 3 reach
    // click (at +1h, +1h, +3h from entry), 1 reaches purchase (+2h)
    val rows = Seq(
      (1L, "view", ts(t0)), (1L, "click", ts("2024-01-01 01:00:00")),
      (1L, "purchase", ts("2024-01-01 02:00:00")),
      (2L, "view", ts(t0)), (2L, "click", ts("2024-01-03 00:00:01")),
      (3L, "view", ts(t0)), (3L, "purchase", ts("2024-01-01 01:00:00")),
      (4L, "click", ts(t0)),
      (5L, "view", ts(t0)), (5L, "purchase", ts("2024-01-01 00:30:00")),
      (5L, "click", ts("2024-01-01 01:00:00")),
      (6L, "click", ts("2023-12-31 23:00:00")), (6L, "view", ts(t0)),
      (6L, "click", ts("2024-01-01 03:00:00")))
    val events = rows.toDF("user_id", "event_type", "ts")
    val got = AggOps.eventsFunnelSummary(events).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val h = 3600L * 1000000L
    assert(got(1) === ((5L, 1000000L, 0L)))
    assert(got(2) === ((3L, 600000L, 5 * h / 3)), "mean of +1h,+1h,+3h")
    assert(got(3) === ((1L, 200000L, 2 * h)))
  }

  test("events_funnel_sweep: one-pass window dial is monotone and matches the 48h funnel") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = "2024-01-01 00:00:00"
    val rows = Seq(
      (1L, "view", ts(t0)), (1L, "click", ts("2024-01-01 01:00:00")),
      (1L, "purchase", ts("2024-01-01 02:00:00")),
      (2L, "view", ts(t0)), (2L, "click", ts("2024-01-03 00:00:01")),
      (3L, "view", ts(t0)), (3L, "purchase", ts("2024-01-01 01:00:00")),
      (4L, "click", ts(t0)),
      (5L, "view", ts(t0)), (5L, "purchase", ts("2024-01-01 00:30:00")),
      (5L, "click", ts("2024-01-01 01:00:00")),
      (6L, "click", ts("2023-12-31 23:00:00")), (6L, "view", ts(t0)),
      (6L, "click", ts("2024-01-01 03:00:00")))
    val events = rows.toDF("user_id", "event_type", "ts")
    val got = AggOps.eventsFunnelSweep(events).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // u2's click lands at +48h1s: outside every window up to 48 h,
    // inside the 168 h one — the dial must show exactly that step
    assert(got(6) === ((5L, 3L, 1L)))
    assert(got(24) === ((5L, 3L, 1L)))
    assert(got(48) === ((5L, 3L, 1L)), "48h sweep row must match the funnel")
    assert(got(168) === ((5L, 4L, 1L)))
  }

  test("events_funnel: first-touch binding, strict ordering, window cut") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = "2024-01-01 00:00:00"
    val rows = Seq(
      // u1: clean 3-step conversion inside the window
      (1L, "view", ts(t0)), (1L, "click", ts("2024-01-01 01:00:00")),
      (1L, "purchase", ts("2024-01-01 02:00:00")),
      // u2: click lands past the 48 h deadline → level 1
      (2L, "view", ts(t0)), (2L, "click", ts("2024-01-03 00:00:01")),
      // u3: purchase but NO click — step 3 needs step 2 → level 1
      (3L, "view", ts(t0)), (3L, "purchase", ts("2024-01-01 01:00:00")),
      // u4: never entered (no view) → absent from the funnel
      (4L, "click", ts(t0)),
      // u5: purchase BEFORE the click binds → level 2 (strictly-after)
      (5L, "view", ts(t0)), (5L, "purchase", ts("2024-01-01 00:30:00")),
      (5L, "click", ts("2024-01-01 01:00:00")),
      // u6: pre-view click ignored; the post-view click binds
      (6L, "click", ts("2023-12-31 23:00:00")), (6L, "view", ts(t0)),
      (6L, "click", ts("2024-01-01 03:00:00")))
    val events = rows.toDF("user_id", "event_type", "ts")
    val got = AggOps.eventsFunnel(events).collect()
      .map(r => r.getLong(0) -> ((r.getInt(4), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L, 5L, 6L))
    assert(got(1L)._1 === 3)
    assert(got(2L) === ((1, None, None)))
    assert(got(3L) === ((1, None, None)))
    assert(got(5L)._1 === 2)
    val hourUs = 3600L * 1000000L
    assert(got(6L)._1 === 2)
    assert(got(6L)._2.get.asInstanceOf[Long] ===
      Timestamp.valueOf(t0).getTime * 1000L + 3 * hourUs,
      "step 2 must bind to the first click AFTER the view, not before")
  }
}
