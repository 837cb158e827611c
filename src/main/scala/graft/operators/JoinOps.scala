package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize.scratchDir

/** Join surface — SURVEY.md §2.3. The reference's audit/update queries over
  * per-connector raw collections (/root/reference/README.md:27–28) correlate
  * collections with each other and with time; this object covers every join
  * shape on the testdata star schema (FIXTURES.md key map).
  *
  * Scale notes (100 TB): equi joins are declared, not scheduled — Catalyst /
  * AQE pick broadcast vs shuffled-hash vs sort-merge; we only hint where the
  * right answer is knowable statically (dims → `broadcast`, large-large →
  * `merge`). Non-equi joins are kept to broadcast-sized inputs (bands, tiny
  * self-joins) so the broadcast-nested-loop never sees two large sides. The
  * as-of join is the union+window form: ONE shuffle on the key, no join
  * explosion, no per-row subquery — the shape that survives 100 TB.
  */
object JoinOps {

  /** Equi inner join orders⋈customer; Catalyst picks the physical strategy
    * (AQE may demote to broadcast when the dim side is small).
    */
  def innerHash(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"), "inner")
      .select(
        col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_totalprice"), col("c_mktsegment"))
      .orderBy("o_orderkey")

  /** Dim-table broadcast: customer⋈nation⋈region with explicit broadcast
    * hints — zero shuffle for the join itself (only the final groupBy
    * exchanges), the layout that matters when the fact side is 100 TB.
    */
  def broadcastDims(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(avg(col("c_acctbal")), 2).as("avg_bal"))
      .orderBy("r_name")

  /** Large-large sort-merge join lineitem⋈orders, forced via merge hint —
    * at scale both sides shuffle-partition on the key and merge without
    * building a hash table (spill-safe).
    */
  def sortMerge(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .hint("merge")
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderstatus")

  /** Left outer: every customer survives, orderless customers with nulls
    * (the "empty payload" row shape, README.md:32).
    */
  def leftOuter(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))

  /** Right outer: every part survives even if never shipped. */
  def rightOuter(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(part, lineitem("l_partkey") === part("p_partkey"), "right")
      .select(col("p_partkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(
        asc_nulls_first("p_partkey"),
        asc_nulls_first("l_orderkey"),
        asc_nulls_first("l_linenumber"),
        // the synthetic lineitem is not (orderkey, linenumber)-unique —
        // quantity breaks the remaining ties for the hash-compare
        asc_nulls_first("l_quantity"))

  /** Full outer on pre-aggregated per-nation counts — rows survive from
    * either side; aggregating first keeps the outer join key-unique (the
    * scalable shape for reconciliation audits).
    */
  def fullOuter(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = supplier.groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, c("c_nationkey") === s("s_nationkey"), "full")
      .select(
        coalesce(c("c_nationkey"), s("s_nationkey")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy("nationkey")
  }

  /** Left semi — EXISTS: customers that have at least one order (update
    * detection, README.md:28). No columns from the right side, no row
    * multiplication — cheaper than join+distinct at scale.
    */
  def leftSemi(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Left anti — NOT EXISTS: customers with no URGENT order; the core of
    * idempotent re-ingestion (only NEW records pass, README.md:28). The
    * right side is filtered to one priority class so the unmatched set is
    * non-empty at every fixture SF (every customer has SOME order, so the
    * unfiltered form compared empty-vs-empty — a vacuous oracle check).
    * The filter sits under the anti-join, so Catalyst pushes it into the
    * right-side scan before the shuffle.
    */
  def leftAnti(customer: DataFrame, orders: DataFrame): DataFrame = {
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
    customer
      .join(urgent, customer("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Cartesian product of two bounded dims (building block for all-pairs
    * similarity — never used with two large sides).
    */
  def crossJoin(region: DataFrame, nation: DataFrame): DataFrame =
    region
      .crossJoin(nation)
      .select(col("r_regionkey"), col("r_name"), col("n_nationkey"), col("n_name"))
      .orderBy("r_regionkey", "n_nationkey")

  /** Theta (inequality) self-join: unordered nation pairs via key `<` key —
    * plans as broadcast-nested-loop; inputs deliberately broadcast-sized.
    */
  def theta(nation: DataFrame): DataFrame = {
    val a = nation.select(col("n_nationkey").as("a_key"), col("n_name").as("a_name"))
    val b = nation.select(col("n_nationkey").as("b_key"), col("n_name").as("b_name"))
    a.join(b, col("a_key") < col("b_key"))
      .orderBy("a_key", "b_key")
  }

  /** Null-safe equi join (`<=>` / SQL `IS NOT DISTINCT FROM`): NULL keys
    * pair with NULL keys instead of silently dropping — the semantics a
    * raw-collection audit needs when the join key itself is the thing
    * being cleaned. Nullable keys are derived deterministically (status
    * 'F' → NULL on BOTH sides) so the null bucket is non-empty and its
    * match is observable; a plain `===` join would lose those rows.
    * Catalyst plans `<=>` as a hash-join key (EqualNullSafe is still an
    * equi-predicate), so this scales exactly like `join_inner_hash` — no
    * nested-loop fallback.
    */
  def nullSafe(orders: DataFrame): DataFrame = {
    val facts = orders.select(
      col("o_orderkey"),
      nullif(col("o_orderstatus"), lit("F")).as("k"))
    val dim = orders
      .select(nullif(col("o_orderstatus"), lit("F")).as("k"))
      .distinct()
      .select(col("k").as("dim_k"), coalesce(col("k"), lit("quarantine")).as("bucket"))
    facts
      .join(dim, col("k") <=> col("dim_k"))
      .groupBy(col("k"), col("bucket"))
      .agg(count(lit(1)).as("n_orders"))
      .select(col("k"), col("bucket"), col("n_orders"))
      .orderBy(asc_nulls_first("k"))
  }

  /** Range/band join: price interval lookup against a broadcast band table
    * — the scalable banding pattern (tiny interval dim broadcast against an
    * arbitrarily large fact side; half-open intervals so bands partition).
    */
  def rangeBand(part: DataFrame): DataFrame = {
    val spark = part.sparkSession
    import spark.implicits._
    val bands = Seq(
      (0.0, 1200.0, "budget"),
      (1200.0, 1600.0, "mid"),
      (1600.0, 1e9, "premium"),
    ).toDF("lo", "hi", "band")
    part
      .join(broadcast(bands),
        part("p_retailprice") >= col("lo") && part("p_retailprice") < col("hi"))
      .select(col("p_partkey"), col("p_retailprice"), col("band"))
      .orderBy("p_partkey")
  }

  /** Bucket-co-located join: both sides written `bucketBy` the join key,
    * so the join consumes bucketed scans with NO shuffle exchange on
    * either side (asserted in PlanSpec) — the pre-partitioned layout for
    * joins repeated across many queries at 100 TB, where paying the write-
    * time clustering once beats re-shuffling both sides every run.
    */
  def bucketed(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val o = spark.table(StoredLayout.ensure(spark, "bkt_orders", "", "o_custkey",
      rebuild = true)(
      orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))))
    val c = spark.table(StoredLayout.ensure(spark, "bkt_customer", "", "c_custkey",
      rebuild = true)(
      customer.select(col("c_custkey"), col("c_mktsegment"))))
    // merge hint: at test scale AQE would pick broadcast (also shuffle-
    // free); the hint pins the sort-merge path so the plan demonstrates
    // what bucketing buys when BOTH sides are too big to broadcast —
    // co-located buckets, zero exchanges on the join keys.
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Skew-salted join: the fact side's hot keys are spread across
    * `nSalt` sub-keys by a deterministic row hash, and the (small) build
    * side is replicated once per salt — a skewed key's rows land on
    * `nSalt` tasks instead of one. Results are identical to the unsalted
    * join (the oracle proves it); AQE's skew-join split is the runtime
    * alternative when the skew is discovered late.
    */
  def skewSalted(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val nSalt = 8
    val fact = lineitem
      .select(col("l_orderkey"), col("l_extendedprice"))
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_extendedprice")), lit(nSalt)))
    val dim = orders
      .select(col("o_orderkey"), col("o_orderstatus"))
      .crossJoin((0 until nSalt).toDF("salt")) // replicate build side per salt
    fact
      .join(dim, fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** AQE runtime skew-join split — the complement of `skewSalted`: when
    * skew is discovered at RUNTIME rather than known in advance, no
    * manual salt is possible; Adaptive Query Execution measures the
    * shuffle map output at the stage boundary and splits any oversized
    * partition into sub-ranges, replicating the matching build-side
    * partition per split (OptimizeSkewedJoin) — the same rows-to-many-
    * tasks effect as salting, decided from observed sizes.
    *
    * The skew here is CONSTRUCTED deterministically (a third of the fact
    * rows fold onto one hot key) so the result is oracle-checkable: the
    * rewrite is result-invisible by design, and the oracle proves it.
    * The merge hint keeps the join a sort-merge at test scale (AQE would
    * otherwise broadcast the dim and no skew handling would be needed —
    * at 100 TB both sides of a fact-fact join exceed broadcast range,
    * which is exactly the regime where the skew split matters). PlanSpec
    * runs this under low AQE skew thresholds and pins `skew=true` in the
    * final adaptive plan; the entry itself runs under whatever session
    * confs the driver uses, producing identical rows either way.
    */
  def skewAqe(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // Round-robin spread BEFORE the join (the dedupNear spread rule):
    // AQE's skew split works at map-block granularity — a hot reduce
    // partition can only split into as many pieces as there are map
    // tasks feeding it. At 100 TB the fact side arrives from thousands
    // of mappers naturally; the single-file test table arrives from ONE
    // (one parquet row group), which would make the hot partition
    // unsplittable and the demo vacuous.
    val fact = lineitem.select(
      when(col("l_orderkey") % 3 === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("jk"),
      col("l_extendedprice"))
      .repartition(lineitem.sparkSession.sparkContext.defaultParallelism)
    val dim = orders.select(col("o_orderkey").as("jk"), col("o_orderstatus"))
    fact.hint("merge").join(dim, "jk")
      .groupBy(col("o_orderstatus"))
      // integer-cents sum (the sink_incremental convention): the round-
      // robin spread makes double accumulation order vary with
      // parallelism, and a 2-decimal round of a float sum can flip
      // against the oracle at larger scale; summing in the integer
      // domain is order-invariant
      .agg(count(lit(1)).as("n_items"),
        round(sum(round(col("l_extendedprice") * 100).cast("bigint")) / 100.0, 2)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** As-of join: for each purchase event, the latest click by the same user
    * at-or-before the purchase timestamp (README.md:28 — "current value as
    * of t"). No native Spark as-of join; this is the union+window form:
    * tag both sides, sort within user by (ts, side, id), carry the last
    * click forward with `last(_, ignoreNulls)`. ONE shuffle on user_id,
    * zero row multiplication — the 100 TB-safe shape (vs. a per-row
    * correlated lookup or a range join explosion).
    */
  /** FORWARD as-of join: for each purchase, the EARLIEST click by the
    * same user at-or-after the purchase (the "next maintenance event"
    * lookup direction). Mirror of `asof`: same union+window form with the
    * frame reversed to [current row, unbounded following] and `first`
    * instead of `last`. Same scale contract: one shuffle on user_id, no
    * row multiplication.
    */
  def asofForward(events: DataFrame): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        col("ts"),
        // purchases sort before clicks at equal ts → a same-instant click
        // is inside the forward frame (ASOF `>=` semantics).
        when(col("event_type") === "purchase", lit(0)).otherwise(lit(1)).as("side"),
        col("event_id"))
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "side", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged
      .withColumn("next_click_id",
        first(when(col("side") === 1, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("next_click_ts_us",
        first(when(col("side") === 1, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_ts_us"),
        col("next_click_id"),
        col("next_click_ts_us"))
      .orderBy("purchase_id")
  }

  def asof(events: DataFrame): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        col("ts"),
        // clicks sort before purchases at equal ts → a same-instant click
        // is visible to the purchase (ASOF `>=` semantics).
        when(col("event_type") === "click", lit(0)).otherwise(lit(1)).as("side"),
        col("event_id"))
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "side", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts_us",
        last(when(col("side") === 0, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_ts_us"),
        col("click_id"),
        col("click_ts_us"))
      .orderBy("purchase_id")
  }

  /** ASOF with TOLERANCE — the bounded-staleness form (polars/kdb
    * `tolerance`): a purchase matches the latest prior click ONLY if it
    * is at most `tolMinutes` old; a staler click is no match at all
    * (sensor-fusion and feature-freshness semantics — a quote from last
    * week is not a usable price). Same union+window machinery as
    * [[asof]] — one user_id shuffle, one Window — with the staleness
    * test applied to the carried-forward candidate afterwards: the
    * latest click in [t−tol, t], when one exists, IS the overall latest
    * click ≤ t, so post-filtering the backward result is equivalent to
    * windowed search and costs nothing extra.
    */
  def asofTolerance(events: DataFrame, tolMinutes: Int = 1440): DataFrame = {
    val tolUs = tolMinutes.toLong * 60L * 1000000L
    val tagged = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        col("ts"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1)).as("side"),
        col("event_id"))
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "side", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pus = unix_micros(col("ts"))
    val fresh = col("b_ts").isNotNull && pus - col("b_ts") <= tolUs
    tagged
      .select(col("user_id"), col("ts"), col("side"), col("event_id"),
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true)
          .over(w).as("b_id"),
        last(when(col("side") === 0, unix_micros(col("ts"))), ignoreNulls = true)
          .over(w).as("b_ts"))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        pus.as("purchase_ts_us"),
        when(fresh, col("b_id")).as("click_id"),
        when(fresh, col("b_ts")).as("click_ts_us"),
        coalesce(fresh, lit(false)).as("matched"))
      .orderBy("purchase_id")
  }

  /** Nearest-in-time ASOF variant — each purchase matches the CLOSEST
    * click in either direction (sensor-fusion semantics; backward wins
    * distance ties, and a same-instant click counts as backward). Both
    * direction candidates come from the SAME merged event stream and the
    * same (ts, side, event_id) sort: the backward frame reads last-click
    * up to the current row, the forward frame first-click after it —
    * Spark folds both frames into one Window operator over one user_id
    * exchange, so "nearest" costs exactly what "backward" costs (plan-
    * pinned single exchange). A join-shaped formulation would shuffle
    * the click table twice and re-sort per direction.
    */
  def asofNearest(events: DataFrame): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        col("ts"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1)).as("side"),
        col("event_id"))
    val order = Seq(col("ts"), col("side"), col("event_id"))
    val wb = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val clickId = when(col("side") === 0, col("event_id"))
    val clickUs = when(col("side") === 0, unix_micros(col("ts")))
    val pus = unix_micros(col("ts"))
    val backWins = col("f_ts").isNull ||
      (col("b_ts").isNotNull && pus - col("b_ts") <= col("f_ts") - pus)
    tagged
      // one select, not chained withColumns: each withColumn is a Project
      // barrier that splits the window expressions into separate Window
      // operators; together they fold into one per frame direction
      .select(col("user_id"), col("ts"), col("side"), col("event_id"),
        last(clickId, ignoreNulls = true).over(wb).as("b_id"),
        last(clickUs, ignoreNulls = true).over(wb).as("b_ts"),
        first(clickId, ignoreNulls = true).over(wf).as("f_id"),
        first(clickUs, ignoreNulls = true).over(wf).as("f_ts"))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        pus.as("purchase_ts_us"),
        when(backWins, col("b_id")).otherwise(col("f_id")).as("click_id"),
        when(backWins, col("b_ts")).otherwise(col("f_ts")).as("click_ts_us"))
      .orderBy("purchase_id")
  }

  /** Bloom-style runtime pruning of a large fact join — the semi-join
    * reduction that matters most at 100 TB: when the dim side of a
    * shuffle join is SELECTIVELY filtered, most fact rows shuffle only to
    * find no partner. Spark's own runtime bloom filter does this behind
    * conf thresholds; here the same move is made explicit and declarative
    * so it is plan-auditable and threshold-free: the filtered dim's join
    * keys hash into a 2¹⁶-bucket bitmap (a DISTINCT over a 1-int column —
    * at most 65 536 rows no matter how large the dim is), the bitmap
    * broadcasts, and a broadcast LEFT SEMI join drops non-matching fact
    * rows MAP-SIDE, before the fact shuffle. False positives (bucket
    * collisions) just ride through to the exact join; false negatives
    * cannot happen. With a ~1 % selective dim filter the fact shuffle
    * carries ~2 % of its rows. The pruning is semantically invisible —
    * the oracle is the plain join.
    */
  def joinBloomPruned(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val nBuckets = 1 << 16
    val sel = orders.filter(col("o_totalprice") > 495000.0)
    val bitmap = sel
      .select(pmod(xxhash64(col("o_orderkey")), lit(nBuckets)).as("kb"))
      .distinct()
    val pruned = lineitem.join(
      broadcast(bitmap),
      pmod(xxhash64(col("l_orderkey")), lit(nBuckets)) === col("kb"),
      "left_semi")
    pruned.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Grid-bucketed spatial proximity join — the 2-D member of the engine's
    * bucket-join family (1-D keys: `join_range`/`asof`; bit-space:
    * `simJoinBucketed`'s LSH cells). Both relations map to points in an
    * integer coordinate plane (coordinates derived deterministically from
    * the keys, standing in for geocoded lat/lon scaled to integer
    * micro-degrees) and the query is "all (customer, supplier) pairs
    * within L2 distance r".
    *
    * The naive form is a cross join with a distance predicate — a
    * BroadcastNestedLoopJoin that dies at scale. The scalable shape is
    * the standard grid decomposition: cell width = r, the supplier side
    * posts each point to ITS OWN cell only, the customer side probes its
    * 3×3 cell neighborhood (any pair within r differs by at most one
    * cell per axis), and the cell id is a compact equi-join key. Each
    * qualifying pair meets in EXACTLY one cell (the supplier's), so no
    * post-join dedup is needed; the 9× probe fan-out is on the side that
    * is NOT replicated per cell. Distances stay in the integer domain
    * (dist² vs r²) — bit-exact, no floating-point oracle drift.
    *
    * At 100 TB: replaces an unbounded cross product with one shuffle on a
    * bounded-cardinality cell key; skewed cells (urban density) are
    * ordinary AQE skew-split work since the key is an equi-join key.
    */
  def joinGeo(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val r = 500L // cell width == search radius, in grid units
    val cust = customer.select(
      col("c_custkey"),
      (col("c_custkey") * 7919L % 10000L).as("cx"),
      (col("c_custkey") * 104729L % 10000L).as("cy"))
    val supp = supplier
      .select(
        col("s_suppkey"),
        (col("s_suppkey") * 7919L % 10000L).as("sx"),
        (col("s_suppkey") * 104729L % 10000L).as("sy"))
      .withColumn("cell", floor(col("sx") / r) * 32 + floor(col("sy") / r))
    // 9 neighbor offsets as one generator; the (cellx, celly) → 32·x + y
    // packing is injective over the probed range, so distinct offsets
    // can never alias to the same cell id
    val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probes = cust
      .select(col("c_custkey"), col("cx"), col("cy"), explode(offsets).as("o"))
      .select(
        col("c_custkey"), col("cx"), col("cy"),
        ((floor(col("cx") / r) + col("o.dx")) * 32
          + floor(col("cy") / r) + col("o.dy")).as("cell"))
    probes
      .join(supp, "cell")
      .withColumn("dist2",
        (col("cx") - col("sx")) * (col("cx") - col("sx"))
          + (col("cy") - col("sy")) * (col("cy") - col("sy")))
      .filter(col("dist2") <= r * r)
      .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
      .orderBy("c_custkey", "s_suppkey")
  }

  /** Interval OVERLAP join — `[a_s,a_e) ∩ [b_s,b_e) ≠ ∅` between two
    * interval sets (order-activity windows per tenant here; sessions ×
    * incident windows in production). The naive form is a theta join —
    * a nested loop over every tenant's row pair. The scalable shape is
    * the 1-D version of `joinGeo`'s grid: each interval posts to the
    * fixed-width time CELLS it spans (fan-out ≤ ceil(maxLen/width)+1,
    * a plan-time constant — intervals here are ≤ 14 days on 16-day
    * cells, so ≤ 2 posts), the join becomes an equi-join on
    * (tenant, cell), and the exact overlap predicate runs only inside
    * a cell. A pair meeting in two cells is counted ONCE by assigning
    * it to the cell containing the overlap's first day — both intervals
    * provably post that cell, so no distinct pass is needed. At 100 TB
    * the shuffle key is (tenant, cell): time-skew is bounded by the
    * cell width and the per-tenant slice, and the plan stays
    * hash-exchange + sort-merge — no nested loop anywhere.
    */
  def intervalOverlap(orders: DataFrame): DataFrame = {
    val w = 16L // cell width (days) ≥ max interval length + 1
    val iv = orders.select(
      col("o_orderkey").as("id"),
      (col("o_custkey") % 100L).as("tenant"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("long").as("s"))
      .withColumn("e", col("s") + 1L + (col("id") % 14L)) // end exclusive
    def cells(df: DataFrame, p: String): DataFrame = df.select(
      col("id").as(s"${p}_id"), col("tenant"),
      col("s").as(s"${p}_s"), col("e").as(s"${p}_e"),
      explode(sequence(floor(col("s") / w), floor((col("e") - 1L) / w))).as("cell"))
    val a = cells(iv.filter(col("id") % 2 === 0), "a")
    val b = cells(iv.filter(col("id") % 2 =!= 0), "b")
    a.join(b, Seq("tenant", "cell"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .filter(col("cell") === floor(greatest(col("a_s"), col("b_s")) / lit(w)))
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_days"))
      .orderBy("a_id", "b_id")
  }

  /** Dynamic partition pruning — THE star-schema scan killer at 100 TB:
    * the fact table is date-partitioned on disk, the dim filter is only
    * knowable at runtime, and DPP turns the broadcast dim's key set into
    * a partition filter on the fact scan (a `dynamicpruning` subquery in
    * `PartitionFilters`, plan-pinned in PlanSpec) — the fact side reads
    * ~23% of its partitions here instead of all of them, with zero
    * change to the declared join. The dim derives from the RAW table so
    * only the partitioned fact benefits from pruning; the day-of-month
    * predicate is engine-portable (no dow numbering mismatch).
    */
  def joinDpp(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = scratchDir(sfDir, "events_dpp").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .transform(graft.Tables.normalizeTs)
      .withColumn("event_date", col("ts").cast("date"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("event_date").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = spark.read.parquet(s"$sfDir/events.parquet")
      .transform(graft.Tables.normalizeTs)
      .select(col("ts").cast("date").as("event_date")).distinct()
      .filter(dayofmonth(col("event_date")) <= 7)
    fact.join(broadcast(dim), Seq("event_date"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("event_date").cast("string").as("day"),
        col("n"), col("sum_value"))
      .orderBy("day")
  }
}
