package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite audit queries — multi-operator pipelines in the TPC-H Q3/Q5/
  * Q10 shapes, the reference's cross-collection audit workload
  * (/root/reference/README.md:27–28) at realistic complexity. These are
  * the composition proof: scans with pushed filters → selective joins
  * (dims broadcast, facts shuffled once) → partial+final aggregation →
  * TakeOrderedAndProject. Dates shifted to the testdata's 1995–2001 span.
  */
object AuditQueries {

  /** Q3 shape — top unshipped-revenue orders for one market segment:
    * filter both fact sides BEFORE the join (pushdown), aggregate on the
    * join key, global top-10 via orderBy+limit.
    */
  def q3ShippingPriority(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cutoff = lit("1997-06-01").cast("timestamp")
    customer.filter(col("c_mktsegment") === "BUILDING")
      .join(orders.filter(col("o_orderdate") < cutoff),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > cutoff),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").cast("string").as("order_day"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("order_day"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** Q5 shape — per-nation revenue where customer and supplier share the
    * nation, one region, one year: a 6-table join with both dims
    * broadcast and the fact chain shuffled on its natural keys only.
    */
  def q5LocalSupplier(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** Q10 shape — top customers by returned-item revenue in one quarter:
    * returned-flag fact filter, three joins, top-20.
    */
  def q10ReturnedItems(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      nation: DataFrame): DataFrame =
    customer
      .join(orders.filter(
        col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)

  /** Q18 shape (round 8) — large-volume customers: the aggregate-HAVING
    * semi-join pattern. The fact table folds to per-order quantity totals
    * FIRST (map-side partial sum, one shuffle on the order key), the
    * HAVING cut shrinks that to the rare big orders, and only then do
    * customer/orders join in — the order of operations a 100 TB plan
    * needs (filter-by-aggregate before widening, never after). Quantity
    * totals are integer-valued; `floor` makes the long conversion
    * direction explicit on both engines (the agg_product rule).
    */
  def q18LargeVolume(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      minQty: Int = 250): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(floor(sum(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > minQty)
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("order_day"),
        round(col("o_totalprice"), 2).as("price"),
        col("total_qty"))
      .orderBy(desc("price"), asc("o_orderkey"))
      .limit(100)
  }

  /** Q21 shape (r10) — suppliers who kept the order waiting: for
    * finished orders, the suppliers that were the ONLY late supplier on
    * a multi-supplier order ("late" adapted to this schema: shipped
    * more than 60 days after the order date — the fixtures carry no
    * commit/receipt dates, reference README.md:22's transform surface).
    *
    * The textbook form is EXISTS + NOT EXISTS self-joins on lineitem;
    * the 100 TB form used here REPLACES both with one per-order
    * aggregate: n_distinct suppliers and n_distinct LATE suppliers per
    * order (map-side partial, one shuffle on the order key), then an
    * order qualifies for supplier s iff s is late on it, nsupp ≥ 2 and
    * nlate = 1 — the two correlated subqueries become two columns of
    * the same groupBy, and the fact table is scanned once. Supplier
    * and nation join in LAST, broadcast (bounded dims).
    */
  def q21WaitingSupplier(
      supplier: DataFrame, nation: DataFrame,
      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val f = lineitem
      .join(orders.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
      .localCheckpoint() // feeds the per-order stats AND the late pairs
    val ostat = f.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("nsupp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("nlate"))
      .filter(col("nsupp") >= 2 && col("nlate") === 1)
      .select(col("l_orderkey"))
    f.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(ostat, "l_orderkey")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(100)
  }

  /** Funnel analysis over the event stream: users who signed up, then
    * clicked, then purchased IN THAT ORDER — first-occurrence timestamps
    * per (user, stage) from one conditional aggregation (no joins, no
    * explode), then ordering checks. The standard product-analytics shape:
    * one shuffle on user_id, constant state per user.
    */
  def qFunnel(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("t_signup"),
        min(when(col("event_type") === "click", unix_micros(col("ts")))).as("t_click"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("t_purchase"))
      .select(
        col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"),
        (col("t_signup").isNotNull && col("t_click").isNotNull &&
          col("t_purchase").isNotNull &&
          col("t_signup") < col("t_click") && col("t_click") < col("t_purchase"))
          .as("completed_funnel"))
      .orderBy("user_id")

  /** Q6 shape through the SQL ENTRY POINT: registered temp view +
    * `spark.sql(...)` — proving the textual surface compiles to the same
    * Catalyst plans as the DataFrame API (same pushdown, same partial
    * aggregation). The only `spark.sql` query entry; everything else
    * declares plans via the typed API.
    */
  def q6SqlRevenue(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                count(*) AS n_rows
         FROM lineitem_v
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""")
  }

  /** Correlated SCALAR subquery through the SQL surface — every order
    * priced at its own customer's maximum. The audit idiom a raw-
    * collection user writes daily (`WHERE x = (SELECT max(x) …)`);
    * Catalyst's RewriteCorrelatedScalarSubquery decorrelates the per-row
    * subplan into one aggregate joined back on the correlation key —
    * PlanSpec pins that no per-row subquery survives optimization. No
    * arithmetic on the compared doubles, so the DuckDB oracle hash-matches
    * the stored values exactly.
    */
  def qSubqueryScalar(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders_v o
         WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                               FROM orders_v o2
                               WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""")
  }

  /** EXISTS / NOT EXISTS through the SQL surface — customers with at
    * least one large order and no 'F'-status order. Both predicates
    * decorrelate to semi/anti joins (never a per-row probe).
    */
  def qSubqueryExists(
      spark: SparkSession, customer: DataFrame, orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_v")
    orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, c_name
         FROM customer_v c
         WHERE EXISTS (SELECT 1 FROM orders_v o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 150000)
           AND NOT EXISTS (SELECT 1 FROM orders_v o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderstatus = 'F')
         ORDER BY c_custkey""")
  }

  /** IN-subquery through the SQL surface — orders from one market
    * segment's customers; rewrites to a left-semi join on the key.
    */
  def qSubqueryIn(
      spark: SparkSession, orders: DataFrame, customer: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders_v
         WHERE o_custkey IN (SELECT c_custkey FROM customer_v
                             WHERE c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""")
  }

  /** SQL-defined TABLE function (Spark 4) — the parameterized-view form
    * of the SQL UDF surface: `CREATE FUNCTION … RETURNS TABLE(…) RETURN
    * SELECT …`, invoked in FROM position. Like the scalar SQL UDF the
    * body INLINES at analysis (it is a view with parameters), so
    * pushdown/codegen see the underlying query — no TVF black box.
    */
  def qSqlTableUdf(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_tf_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_big_orders(lim DOUBLE)
         RETURNS TABLE(o_orderkey BIGINT, o_orderpriority STRING,
                       o_totalprice DOUBLE)
         RETURN SELECT o_orderkey, o_orderpriority, o_totalprice
                FROM orders_tf_v WHERE o_totalprice > lim""")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
             AS total
         FROM graft_big_orders(400000.0D)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** NULL ORDERING semantics — the cross-engine trap made a first-class
    * entry: Spark's ASC default puts NULLs FIRST, DESC puts them LAST;
    * DuckDB defaults to the opposite. Every nullable sort key in this
    * registry spells the ordering explicitly — this entry pins all four
    * explicit spellings side by side (rank under each), so a regression
    * in either engine's explicit-override path fails loudly.
    */
  def qNullOrdering(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_no_v")
    spark.sql(
      """WITH k AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_totalprice END AS maybe_price
           FROM orders_no_v WHERE o_orderkey <= 200)
         SELECT o_orderkey, maybe_price,
           rank() OVER (ORDER BY maybe_price ASC NULLS FIRST, o_orderkey)
             AS r_asc_nf,
           rank() OVER (ORDER BY maybe_price ASC NULLS LAST, o_orderkey)
             AS r_asc_nl,
           rank() OVER (ORDER BY maybe_price DESC NULLS FIRST, o_orderkey)
             AS r_desc_nf,
           rank() OVER (ORDER BY maybe_price DESC NULLS LAST, o_orderkey)
             AS r_desc_nl
         FROM k ORDER BY o_orderkey""")
  }

  /** TPC-H Q14 shape — promotion-revenue share for one ship month: the
    * conditional-aggregate-over-a-join composite. The measure is a RATIO
    * of two same-scale sums, so the rounded output is far inside double
    * noise; the fact-side filter pushes to the scan and the part dim
    * broadcasts.
    */
  def q14PromoRevenue(
      spark: SparkSession, lineitem: DataFrame, part: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_q14")
    part.createOrReplaceTempView("part_q14")
    spark.sql(
      """SELECT
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct,
           count(*) AS n_rows
         FROM lineitem_q14 JOIN part_q14 ON l_partkey = p_partkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
           AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'""")
  }

  /** TPC-H Q17 shape — small-quantity-order revenue: the correlated
    * aggregate subquery composite (each row compares against ITS part's
    * average). Catalyst decorrelates into an aggregate + join; the
    * 0.2·avg threshold comparison stays in exact-enough double (integer
    * quantities, one multiply).
    */
  def q17SmallQty(
      spark: SparkSession, lineitem: DataFrame, part: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_q17")
    part.createOrReplaceTempView("part_q17")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_rows
         FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem_q17 l2
                             WHERE l2.l_partkey = p_partkey)""")
  }

  /** `EXECUTE IMMEDIATE` (Spark 4) — dynamic SQL-from-a-string with USING
    * parameter binding: the statement text arrives as data (a session
    * variable here), parameters bind by position — the injection-safe
    * dynamic-SQL form a metadata-driven ETL runner uses. The executed
    * text is an ordinary query; planning/pushdown are identical to the
    * literal spelling (the q_identifier stance for whole statements).
    */
  def qExecuteImmediate(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_ei_v")
    spark.sql("DECLARE OR REPLACE VARIABLE stmt STRING")
    spark.sql(
      """SET VAR stmt =
         'SELECT o_orderstatus, count(*) AS n,
            round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
              AS total
          FROM orders_ei_v WHERE o_orderpriority = ?
          GROUP BY o_orderstatus ORDER BY o_orderstatus'""")
    spark.sql("EXECUTE IMMEDIATE stmt USING '1-URGENT'")
  }

  /** EXISTENCE join — the fourth semi-join variant: an IN-subquery under
    * an OR cannot rewrite to a plain left-semi (rows failing the
    * subquery may still pass the disjunct), so Catalyst plans
    * `ExistenceJoin`: a semi-join that ADDS a boolean `exists` column
    * for the filter to consume. The spec pins the plan node; here the
    * result proves the semantics across the disjunction.
    */
  def qExistenceJoin(
      spark: SparkSession, orders: DataFrame, customer: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT count(*) AS n_qualifying,
           sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
             AS n_by_price
         FROM orders_v
         WHERE o_custkey IN (SELECT c_custkey FROM customer_v
                             WHERE c_mktsegment = 'BUILDING')
            OR o_totalprice > 150000""")
  }

  /** SQL-DEFINED scalar UDF (Spark 4 `CREATE FUNCTION … RETURN expr`) —
    * the extension point that, unlike a Scala/Python UDF black box, is
    * INLINED into the plan at analysis: the optimizer sees the
    * expression, so codegen, pushdown, and constant folding all still
    * apply (the reason to prefer SQL UDFs for pure-expression logic).
    * The function body is the TPC-H discounted-price form; the oracle
    * is the inlined expression — semantically invisible by design.
    */
  def qSqlUdf(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
         RETURNS DOUBLE RETURN p * (1 - d)""")
    spark.sql(
      """SELECT l_returnflag,
           round(sum(graft_disc_price(l_extendedprice, l_discount)), 2) AS revenue,
           count(*) AS n_rows
         FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** NOT IN vs NOT EXISTS under NULLs — the classic three-valued-logic
    * trap, pinned as a first-class semantics entry: a NULL in the NOT IN
    * subquery list makes EVERY row's predicate UNKNOWN (so the query
    * returns nothing), while NOT EXISTS / anti-join semantics ignore the
    * NULL. The entry returns all three counts side by side from the same
    * tables, so the oracle check proves the engine implements the
    * standard's (surprising) semantics, not the intuitive one. One
    * broadcast-able subquery per leg; no data-sized movement.
    */
  def qNotInNulls(
      spark: SparkSession, orders: DataFrame, customer: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT
           (SELECT count(*) FROM orders_v
            WHERE o_custkey NOT IN
              (SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END
               FROM customer_v)) AS n_not_in_with_nulls,
           (SELECT count(*) FROM orders_v
            WHERE o_custkey NOT IN
              (SELECT c_custkey FROM customer_v WHERE c_acctbal < 0)) AS n_not_in_clean,
           (SELECT count(*) FROM orders_v o
            WHERE NOT EXISTS
              (SELECT 1 FROM customer_v c
               WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey)) AS n_not_exists""")
  }

  /** Chained CTEs through the SQL surface — the second named subquery
    * consumes the first. Catalyst either inlines the CTE or materializes
    * it behind `WithCTE`/`CTERelationRef` per its cost rule; both resolve
    * to a plain agg→join→agg plan with the o_totalprice filter pushed to
    * the scan, never a re-executed text block per reference.
    */
  def qCte(spark: SparkSession, orders: DataFrame, customer: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """WITH big_orders AS (
           SELECT o_custkey, count(*) AS n_big,
                  round(sum(o_totalprice), 2) AS big_total
           FROM orders_v
           WHERE o_totalprice > 100000
           GROUP BY o_custkey
         ),
         segment_stats AS (
           SELECT c.c_mktsegment, count(*) AS n_customers,
                  sum(b.n_big) AS n_big_orders,
                  round(sum(b.big_total), 2) AS segment_total
           FROM big_orders b JOIN customer_v c ON b.o_custkey = c.c_custkey
           GROUP BY c.c_mktsegment
         )
         SELECT c_mktsegment, n_customers, n_big_orders, segment_total
         FROM segment_stats
         ORDER BY c_mktsegment""")
  }

  /** RECURSIVE CTE through the SQL surface (Spark 4's `WITH RECURSIVE`,
    * resolved by `ResolveWithCTE` into a `UnionLoop` fixpoint) — a
    * 12-row month spine generated by the recursion, left-joined against
    * 1996 order revenue so empty months still report zeros. The spine is
    * tiny by construction (recursion generates the DIMENSION, never the
    * fact side), so the loop cost is constant regardless of corpus size
    * and the join broadcasts the spine.
    */
  def qRecursiveCte(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """WITH RECURSIVE months (m) AS (
           SELECT 1 AS m
           UNION ALL
           SELECT m + 1 FROM months WHERE m < 12
         )
         SELECT m.m AS month,
                count(o.o_orderkey) AS n_orders,
                round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
         FROM months m
         LEFT JOIN orders_v o
           ON year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = m.m
         GROUP BY m.m
         ORDER BY m.m""")
  }

  /** Window functions through the SQL surface with a named WINDOW clause
    * — row_number, ntile, and a running sum share one window definition,
    * so Catalyst plans ONE shuffle+sort for all three (same `Window`
    * operator), not one per function. The ordering ends in the unique
    * c_custkey so frames are deterministic.
    */
  def qWindowSql(spark: SparkSession, customer: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                row_number() OVER w AS rn,
                ntile(4) OVER w AS quartile,
                round(sum(c_acctbal) OVER (
                  PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_bal
         FROM customer_v
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_custkey""")
  }

  /** PIVOT through the SQL surface — the textual form of `agg_pivot`
    * (values pinned in the IN list, so no driver-side discovery job;
    * compiles to the same Aggregate-with-pivot plan family as the
    * DataFrame form).
    */
  def qPivotSql(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT * FROM (
           SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem_v)
         PIVOT (round(sum(l_quantity), 2)
                FOR l_linestatus IN ('F' AS f, 'O' AS o))
         ORDER BY l_returnflag""")
  }

  /** SQL UNPIVOT — the textual melt (dual of `q_pivot_sql`; the
    * DataFrame form is `agg_unpivot`). The clause is standard enough
    * that the SAME text is the DuckDB oracle; the plan is the Expand
    * operator (map-side row fan-out ×3) under one hash aggregate —
    * no shuffle carries the melted stream, only (metric, partial).
    */
  def qUnpivotSql(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT metric, round(sum(val), 2) AS total, count(*) AS n
         FROM (SELECT l_quantity, l_discount, l_tax FROM lineitem_v)
         UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))
         GROUP BY metric ORDER BY metric""")
  }

  /** LATERAL VIEW through the SQL surface — the textual form of the
    * Generate operator (explode stays map-side, fan-out then partial
    * aggregation; the shuffle carries (doc_id, count) partials, never the
    * exploded token stream).
    */
  def qLateralView(spark: SparkSession, documents: DataFrame): DataFrame = {
    documents.createOrReplaceTempView("documents_v")
    spark.sql(
      """SELECT doc_id, count(*) AS n_long
         FROM documents_v
         LATERAL VIEW explode(split(lower(text), ' ')) t AS tok
         WHERE length(tok) >= 8
         GROUP BY doc_id
         ORDER BY doc_id""")
  }

  /** Correlated LATERAL subquery join — the OTHER lateral (distinct from
    * LATERAL VIEW explode): a per-outer-row subquery with its own ORDER
    * BY + LIMIT, the SQL spelling of "top-k related rows per entity".
    * Catalyst decorrelates the limit into a ranked window join — no
    * per-row re-execution survives into the physical plan, which is what
    * makes the construct usable at 100 TB (the naive interpretation is a
    * nested loop over the corpus).
    */
  def qLateralJoin(spark: SparkSession, customer: DataFrame, orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_v")
    orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer_v,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top_orders
         WHERE c_custkey <= 300
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  /** `GROUP BY ALL` / `ORDER BY ALL` — the analyst-SQL surface (DuckDB
    * popularized it, Spark adopted it): every non-aggregate select item
    * becomes a grouping key, the full select list the sort key. Compiles
    * to the identical Aggregate plan as the explicit form — a resolver
    * feature, not an engine one, which is why it is free to support.
    */
  def qGroupByAll(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty
         FROM lineitem_v GROUP BY ALL ORDER BY ALL""")
  }

  /** SQL session variables (Spark 4 `DECLARE` / `SET VARIABLE`) — the
    * parameterization layer an operational SQL job uses for thresholds
    * and run dates. Variables resolve at ANALYSIS time into plain
    * literals, so a variable-gated predicate stays pushdown- and
    * pruning-eligible (nothing variable-shaped ever reaches executors) —
    * the property that makes parameterized nightly jobs scale-neutral.
    * One variable takes its DEFAULT, one is SET after declaration.
    */
  def qSqlVariables(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_vars_v")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    spark.sql("SET VARIABLE price_floor = 300000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE status_pick STRING DEFAULT 'F'")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
         FROM orders_vars_v
         WHERE o_totalprice > price_floor AND o_orderstatus = status_pick
         ORDER BY o_orderkey""")
  }

  /** Named-parameter SQL (`:param` markers bound via `spark.sql(text,
    * args)`) — the injection-safe form of the same need: values bind as
    * typed literals in the parser, never by string splicing, so a
    * user-supplied cutoff can't smuggle SQL and the bound plan is
    * identical to the literal one (pushdown intact).
    */
  def qParameterized(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_param_v")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
             AS total
         FROM orders_param_v
         WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP_NTZ)
           AND o_orderstatus = :status
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      Map("cutoff" -> "1995-01-01 00:00:00", "status" -> "F"))
  }

  /** `LIMIT … OFFSET` keyset-free pagination — the API-results page the
    * reference serves (README.md:12 pagination, seen from the QUERY
    * side). Spark plans OFFSET into the same single-pass
    * TakeOrderedAndProject as LIMIT (collect limit+offset, drop offset) —
    * fine for page-sized offsets; a deep-scroll production query should
    * switch to a keyset predicate (`WHERE key > last_seen LIMIT n`),
    * which is `topk`'s shape. Total order by key makes the page
    * deterministic, hence oracle-paired.
    */
  def qOffset(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_page_v")
    spark.sql(
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
         FROM orders_page_v
         ORDER BY o_orderkey
         LIMIT 50 OFFSET 100""")
  }

  /** SQL-text hint surface — `/*+ MERGE(t) */` et al., the escape hatch
    * operators use when they know better than the stats. The hint here
    * deliberately forces a sort-merge join on a dim SMALL enough that the
    * planner would broadcast it — proving the hint OVERRIDES the choice,
    * not merely agrees with it (PlanSpec pins SortMergeJoin present /
    * BroadcastHashJoin absent). Results are hint-invisible; the oracle
    * is the plain join.
    */
  def qSqlHints(spark: SparkSession, orders: DataFrame, customer: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_v")
    customer.createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT /*+ MERGE(customer_v) */
           c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
         FROM orders_v JOIN customer_v ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** Stats-driven planning (CBO) — the piece of a 100 TB engine AQE alone
    * does not cover: AQE re-plans from RUNTIME shuffle sizes, but the
    * initial join ORDER of a multi-join chain is fixed before anything
    * runs, so a real deployment runs `ANALYZE TABLE … COMPUTE STATISTICS`
    * and lets the cost-based reorderer pick the order from rowCount +
    * column stats. This entry is that workflow end-to-end: parquet →
    * managed tables → ANALYZE (table + join-key columns) → a join chain
    * deliberately WRITTEN in the worst order (fact ⋈ dim before the
    * selective tiny dim) → CBO reorders it (PlanSpec pins that the
    * optimized join tree differs from the statless one, and that results
    * are identical). Registered tables land in the session warehouse;
    * re-runs overwrite idempotently.
    */
  private[graft] def cboPrepare(spark: SparkSession, dir: String): Unit =
    Seq("orders", "customer", "nation").foreach { t =>
      StoredLayout.drop(spark, s"graft_cbo_$t")
      graft.Tables.t(spark, dir, t).write.mode("overwrite")
        .saveAsTable(s"graft_cbo_$t")
      spark.sql(s"ANALYZE TABLE graft_cbo_$t COMPUTE STATISTICS")
      val cols = t match {
        case "orders"   => "o_custkey, o_totalprice"
        case "customer" => "c_custkey, c_nationkey"
        case "nation"   => "n_nationkey, n_name"
      }
      spark.sql(s"ANALYZE TABLE graft_cbo_$t COMPUTE STATISTICS FOR COLUMNS $cols")
    }

  /** The chain query under a pinned CBO setting. Planning is FORCED while
    * the configs are set (executedPlan memoizes), then the session confs
    * are restored — the returned frame keeps its CBO-shaped plan.
    */
  private[graft] def cboQuery(spark: SparkSession, cbo: Boolean): DataFrame = {
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
    try {
      val df = spark.sql(
        """SELECT n_name, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
           FROM graft_cbo_orders
           JOIN graft_cbo_customer ON o_custkey = c_custkey
           JOIN graft_cbo_nation ON c_nationkey = n_nationkey
           WHERE n_name = 'NATION_7'
           GROUP BY n_name ORDER BY n_name""")
      df.queryExecution.executedPlan
      df
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  def qCboStats(spark: SparkSession, dir: String): DataFrame = {
    cboPrepare(spark, dir)
    cboQuery(spark, cbo = true)
  }

  /** Spark 4 star-modifier projection — `SELECT * EXCEPT (cols)` plus
    * `ORDER BY ALL`: the wide-table ergonomics a 1000-column feature
    * store needs (name what to DROP, not the 990 survivors). The
    * modifier resolves at analysis into an ordinary explicit projection,
    * so column pruning reaches the parquet scan exactly as if the
    * surviving columns were spelled out. DuckDB spells it `EXCLUDE`.
    */
  def qSelectExcept(spark: SparkSession, customer: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_sx_v")
    spark.sql(
      """SELECT * EXCEPT (c_name, c_acctbal)
         FROM customer_sx_v
         WHERE c_custkey % 10 = 3
         ORDER BY ALL""")
  }

  /** `CACHE TABLE … AS SELECT` — the SQL spelling of the reuse layer: a
    * hot intermediate pinned columnar in memory (InMemoryRelation,
    * plan-pinned in PlanSpec), downstream queries scan the cache, not
    * the source files. Caching is data-invisible — the oracle is the
    * same aggregate over the raw table. Dropped and rebuilt per call so
    * re-invocation (bench warmup, other scale factors) never reads a
    * stale cache.
    */
  def sqlCacheTable(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_cache_v")
    spark.catalog.dropTempView("orders_cached") // also uncaches its plan
    spark.sql(
      """CACHE TABLE orders_cached AS
         SELECT o_orderstatus, o_totalprice FROM orders_cache_v""")
    spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
             AS total
         FROM orders_cached
         GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** SQL standard FILTER clause — per-aggregate predicates
    * (`agg(...) FILTER (WHERE ...)`) computing several conditional
    * aggregates in ONE pass over the group (the multi-metric audit
    * shape; the function-style spelling is `agg_count_if`). Each FILTER
    * folds into its aggregate's update — no extra scan, no join of
    * per-predicate subqueries.
    */
  def qAggFilter(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_af_v")
    spark.sql(
      """SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           round(sum(l_quantity) FILTER (WHERE l_tax < 0.04), 2) AS qty_lowtax
         FROM lineitem_af_v
         GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** `IDENTIFIER(:param)` — injection-safe DYNAMIC identifiers (Spark
    * 3.5+): the table/column name arrives as a bound parameter and is
    * resolved as an identifier, never spliced as text — the safe form
    * of the "which table does this nightly job read tonight" pattern.
    * Resolution happens at analysis; the resulting plan is identical to
    * the literal spelling (pushdown intact).
    */
  def qIdentifier(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_ident_v")
    spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
             AS total
         FROM IDENTIFIER(:tbl)
         GROUP BY IDENTIFIER(:grp) ORDER BY o_orderstatus""",
      Map("tbl" -> "orders_ident_v", "grp" -> "o_orderstatus"))
  }

  /** Named-window SQL (`WINDOW w AS (…)`) — one window definition shared
    * by several functions: the analyzer resolves all of them into a
    * SINGLE Window operator (one sort, one pass), which is both the
    * readable spelling and the plan you want — N inline windows with the
    * same spec would still fuse, but the named form makes the sharing a
    * syntactic guarantee.
    */
  def qNamedWindow(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_nw_v")
    spark.sql(
      """SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           round(sum(o_totalprice) OVER w, 2) AS run_total,
           round(max(o_totalprice) OVER w, 2) AS run_max
         FROM orders_nw_v
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""")
  }

  /** Spark 4 SQL pipe syntax (`|>`) — the linear dataflow spelling of
    * the same logical plan (FROM … |> WHERE … |> AGGREGATE … |> ORDER
    * BY). Pure surface syntax: each stage parses into the ordinary
    * operator it names, so pushdown/pruning/codegen are identical to
    * the nested form — which is exactly what the plain-SQL oracle
    * asserts.
    */
  def qPipeSyntax(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_pipe_v")
    spark.sql(
      """FROM orders_pipe_v
         |> WHERE o_orderstatus = 'F'
         |> AGGREGATE count(*) AS n,
              round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
                AS total
            GROUP BY o_orderpriority
         |> ORDER BY o_orderpriority""")
  }

  /** SQL scripting (Spark 4 `BEGIN … END` control flow) — a procedural
    * block with a WHILE loop folding a compound-growth threshold, then a
    * data query gated on the computed variable. Control flow runs on the
    * DRIVER between statements; each statement inside is a full Catalyst
    * plan (the loop never touches executors), so scripting adds zero
    * distributed overhead — the oracle is the same query with the
    * closed-form constant inlined.
    */
  /** TPC-H Q2 shape — minimum-cost supplier: the correlated scalar MIN
    * over a MULTI-join (the subquery repeats the supplier→nation→region
    * chain, correlated on the part key). The classic decorrelation
    * stress: Catalyst must rewrite the per-part subplan into ONE
    * aggregate over the same join, re-joined on p_partkey — PlanSpec
    * pins that no per-row subquery survives. lineitem stands in for
    * partsupp (the fixture has no partsupp table): the "supply cost" is
    * the stored l_extendedprice, compared EXACTLY (min returns a stored
    * double; no arithmetic on the compared value, the q_subquery_scalar
    * convention). DISTINCT collapses repeat shipments to the
    * one-row-per-(part, supplier) shape Q2 reads from partsupp. The
    * LIMIT ties are safe: rows tied on the full sort key are identical
    * in every projected column.
    */
  def q2MinCostSupplier(spark: SparkSession, part: DataFrame,
      supplier: DataFrame, lineitem: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    part.createOrReplaceTempView("part_q2")
    supplier.createOrReplaceTempView("supplier_q2")
    lineitem.createOrReplaceTempView("lineitem_q2")
    nation.createOrReplaceTempView("nation_q2")
    region.createOrReplaceTempView("region_q2")
    spark.sql(
      """SELECT DISTINCT round(s.s_acctbal, 2) AS s_acctbal, s.s_name,
           n.n_name, p.p_partkey, p.p_name,
           round(l.l_extendedprice, 2) AS min_price
         FROM part_q2 p, supplier_q2 s, lineitem_q2 l, nation_q2 n, region_q2 r
         WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
           AND p.p_size <= 15 AND s.s_nationkey = n.n_nationkey
           AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
           AND l.l_extendedprice = (
             SELECT min(l2.l_extendedprice)
             FROM lineitem_q2 l2, supplier_q2 s2, nation_q2 n2, region_q2 r2
             WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")
  }

  /** TPC-H Q20 shape — excess shipments: the NESTED IN-chain (supplier
    * IN (grouped subquery over lineitem, itself filtered by part IN
    * (...)), with a correlated scalar aggregate gating each group). The
    * correlation goes through a derived-table alias (`g.l_partkey`) —
    * the unqualified spelling silently rebinds to the inner lineitem
    * scope in BOTH engines and vacuously empties the result (measured;
    * kept as a comment so nobody "simplifies" it back). Each IN level
    * must plan as a semi join and the correlated sum must decorrelate
    * into one per-part aggregate — no per-group subplans.
    */
  def q20ExcessShipments(spark: SparkSession, supplier: DataFrame,
      lineitem: DataFrame, part: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("supplier_q20")
    lineitem.createOrReplaceTempView("lineitem_q20")
    part.createOrReplaceTempView("part_q20")
    nation.createOrReplaceTempView("nation_q20")
    region.createOrReplaceTempView("region_q20")
    spark.sql(
      """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
         FROM supplier_q20 JOIN nation_q20 ON s_nationkey = n_nationkey
         WHERE n_regionkey IN (SELECT r_regionkey FROM region_q20
                               WHERE r_name IN ('ASIA', 'EUROPE'))
           AND s_suppkey IN (
             SELECT g.l_suppkey
             FROM (SELECT l_suppkey, l_partkey, sum(l_quantity) AS sum_qty
                   FROM lineitem_q20
                   WHERE l_partkey IN (SELECT p_partkey FROM part_q20
                                       WHERE p_name LIKE 'small%')
                   GROUP BY l_suppkey, l_partkey) g
             WHERE g.sum_qty > (SELECT 0.2 * sum(l2.l_quantity)
                                FROM lineitem_q20 l2
                                WHERE l2.l_partkey = g.l_partkey))
         ORDER BY s_name""")
  }

  /** TPC-H Q22 shape — global sales opportunity: the anti-join +
    * scalar-average pair (customers above the positive-balance average
    * with NO urgent orders — the fixture gives every customer orders, so
    * the anti-join targets the urgent subset to stay non-vacuous). The
    * NOT EXISTS must plan as an anti join against the filtered orders,
    * the average as one decorrelated scalar; balances aggregate in
    * integer cents (round-before-sum, the cross-engine float law).
    */
  def q22GlobalSales(spark: SparkSession, customer: DataFrame,
      orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_q22")
    orders.createOrReplaceTempView("orders_q22")
    spark.sql(
      """SELECT c_mktsegment AS segment, count(*) AS n_custs,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0D, 2)
             AS total_acctbal
         FROM customer_q22 c
         WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_q22 c2
                              WHERE c2.c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders_q22 o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** TPC-H Q4 shape — order-priority census gated by an EXISTS probe
    * (orders with at least one late-shipping line in the quarter; the
    * fixture has no commit/receipt dates, so "late" = shipped more than
    * 90 days after ordering). The EXISTS must plan as ONE semi join, not
    * a per-order subplan.
    */
  def q4OrderPriority(spark: SparkSession, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_q4")
    lineitem.createOrReplaceTempView("lineitem_q4")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders_q4
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem_q4
                       WHERE l_orderkey = o_orderkey
                         AND CAST(l_shipdate AS DATE) >
                             date_add(CAST(o_orderdate AS DATE), 90))
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** TPC-H Q13 shape — customer order-count distribution: the OUTER-join
    * histogram (how many customers placed 0, 1, 2, … qualifying orders).
    * The filter lives in the JOIN CONDITION, not the WHERE — moving it
    * would silently drop zero-order customers, which is the semantic the
    * shape exists to test. Two-level aggregation: per-customer count,
    * then the count-of-counts histogram (bounded by max orders/customer).
    */
  def q13CustomerDistribution(spark: SparkSession, customer: DataFrame,
      orders: DataFrame): DataFrame = {
    customer.createOrReplaceTempView("customer_q13")
    orders.createOrReplaceTempView("orders_q13")
    spark.sql(
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer_q13 c LEFT JOIN orders_q13 o
             ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) t
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
  }

  /** TPC-H Q19 shape — disjunctive multi-predicate join (three brand /
    * size / quantity bands OR-ed together): the optimizer stress where
    * per-side conjuncts must still reach both scans even though the top
    * predicate is a disjunction. Revenue accumulates in integer cents
    * (round-before-sum — the cross-engine float law).
    */
  def q19DisjunctiveRevenue(spark: SparkSession, lineitem: DataFrame,
      part: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_q19")
    part.createOrReplaceTempView("part_q19")
    spark.sql(
      """SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) / 100.0D, 2) AS revenue,
           count(*) AS n_rows
         FROM lineitem_q19 JOIN part_q19 ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 50)""")
  }

  /** TPC-H Q7 shape — volume shipping between trade partners: the 6-way
    * join with the DOUBLE nation decode (supplier's nation and
    * customer's nation both resolve through the same dim — the
    * self-join-on-a-dim shape) grouped by partner pair and ship year.
    * Adapted to region-level pairs (ASIA suppliers → EUROPE customers)
    * so the fixture's 10-supplier scale stays non-degenerate. Revenue in
    * integer cents.
    */
  def q7VolumeShipping(spark: SparkSession, supplier: DataFrame,
      lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("supplier_q7")
    lineitem.createOrReplaceTempView("lineitem_q7")
    orders.createOrReplaceTempView("orders_q7")
    customer.createOrReplaceTempView("customer_q7")
    nation.createOrReplaceTempView("nation_q7")
    region.createOrReplaceTempView("region_q7")
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year,
           round(sum(CAST(round(volume * 100) AS BIGINT)) / 100.0D, 2)
             AS revenue,
           count(*) AS n_rows
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(CAST(l_shipdate AS DATE)) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
               FROM supplier_q7 s JOIN lineitem_q7 l ON s.s_suppkey = l.l_suppkey
                 JOIN orders_q7 o ON o.o_orderkey = l.l_orderkey
                 JOIN customer_q7 c ON c.c_custkey = o.o_custkey
                 JOIN nation_q7 n1 ON s.s_nationkey = n1.n_nationkey
                 JOIN nation_q7 n2 ON c.c_nationkey = n2.n_nationkey
                 JOIN region_q7 r1 ON n1.n_regionkey = r1.r_regionkey
                 JOIN region_q7 r2 ON n2.n_regionkey = r2.r_regionkey
               WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
                 AND n1.n_name <> n2.n_name
                 AND CAST(l_shipdate AS DATE)
                     BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') t
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""")
  }

  /** TPC-H Q8 shape — market share: what fraction of a market's volume
    * came from one supplier group, per year. The RATIO-of-conditional-sum
    * over an 8-way join; both sums accumulate in integer cents so the
    * final share is one double division of exact integers.
    */
  def q8MarketShare(spark: SparkSession, part: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, orders: DataFrame,
      customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    part.createOrReplaceTempView("part_q8")
    lineitem.createOrReplaceTempView("lineitem_q8")
    supplier.createOrReplaceTempView("supplier_q8")
    orders.createOrReplaceTempView("orders_q8")
    customer.createOrReplaceTempView("customer_q8")
    nation.createOrReplaceTempView("nation_q8")
    region.createOrReplaceTempView("region_q8")
    spark.sql(
      """SELECT o_year,
           round(CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN vol_c
                               ELSE 0 END) AS DOUBLE) / sum(vol_c), 6)
             AS mkt_share,
           count(*) AS n_rows
         FROM (SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS vol_c,
                 r2.r_name AS supp_region
               FROM part_q8 p JOIN lineitem_q8 l ON p.p_partkey = l.l_partkey
                 JOIN supplier_q8 s ON s.s_suppkey = l.l_suppkey
                 JOIN orders_q8 o ON o.o_orderkey = l.l_orderkey
                 JOIN customer_q8 c ON c.c_custkey = o.o_custkey
                 JOIN nation_q8 n1 ON c.c_nationkey = n1.n_nationkey
                 JOIN region_q8 r ON n1.n_regionkey = r.r_regionkey
                 JOIN nation_q8 n2 ON s.s_nationkey = n2.n_nationkey
                 JOIN region_q8 r2 ON n2.n_regionkey = r2.r_regionkey
               WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
                 AND CAST(o_orderdate AS DATE)
                     BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') t
         GROUP BY o_year ORDER BY o_year""")
  }

  /** TPC-H Q15 shape — top supplier: a revenue view consumed twice (once
    * for the rows, once for the scalar max that selects the winner) —
    * the CTE-reuse + uncorrelated-scalar pattern. Integer-cent totals
    * make the max comparison exact.
    */
  def q15TopSupplier(spark: SparkSession, lineitem: DataFrame,
      supplier: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_q15")
    supplier.createOrReplaceTempView("supplier_q15")
    spark.sql(
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS total_c
           FROM lineitem_q15
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, round(total_c / 100.0D, 2) AS total_revenue
         FROM supplier_q15 JOIN revenue ON s_suppkey = supplier_no
         WHERE total_c = (SELECT max(total_c) FROM revenue)
         ORDER BY s_suppkey""")
  }

  /** TPC-H Q9 shape — product-type profit: the 5-way join where profit
    * = revenue − supply cost, grouped by the SUPPLIER's nation and the
    * order year. The fixture has no partsupp, so supply cost stands in
    * as half the part's retail price per unit (the q2
    * lineitem-for-partsupp convention). Profit accumulates in integer
    * cents (round-before-sum, the cross-engine float law); the p_name
    * LIKE filter must reach the part scan (PlanSpec pins pushdown).
    */
  def q9ProductProfit(spark: SparkSession, part: DataFrame,
      supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
      nation: DataFrame): DataFrame = {
    part.createOrReplaceTempView("part_q9")
    supplier.createOrReplaceTempView("supplier_q9")
    lineitem.createOrReplaceTempView("lineitem_q9")
    orders.createOrReplaceTempView("orders_q9")
    nation.createOrReplaceTempView("nation_q9")
    spark.sql(
      """SELECT nation, o_year,
           round(CAST(sum(amount_c) AS BIGINT) / 100.0D, 2) AS sum_profit
         FROM (SELECT n.n_name AS nation,
                 CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS o_year,
                 CAST(round((l.l_extendedprice * (1 - l.l_discount)
                   - 0.5 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT)
                   AS amount_c
               FROM part_q9 p JOIN lineitem_q9 l ON p.p_partkey = l.l_partkey
                 JOIN supplier_q9 s ON s.s_suppkey = l.l_suppkey
                 JOIN orders_q9 o ON o.o_orderkey = l.l_orderkey
                 JOIN nation_q9 n ON s.s_nationkey = n.n_nationkey
               WHERE p.p_name LIKE '%red%') profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC""")
  }

  /** TPC-H Q11 shape — important parts: the HAVING gated by an
    * UNCORRELATED SCALAR over the same joined aggregate (the one
    * decorrelation shape q2/q20/q22 didn't cover — a global-total
    * threshold, not a per-row correlation). Part value stands in as
    * exact cents × quantity off lineitem (no partsupp in the fixture);
    * the region filter applies identically to both the per-part
    * aggregate and the global total, so the fraction is scale-free.
    */
  def q11ImportantParts(spark: SparkSession, lineitem: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    lineitem.createOrReplaceTempView("lineitem_q11")
    supplier.createOrReplaceTempView("supplier_q11")
    nation.createOrReplaceTempView("nation_q11")
    region.createOrReplaceTempView("region_q11")
    spark.sql(
      """SELECT l_partkey AS p_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cq
         FROM lineitem_q11 l JOIN supplier_q11 s ON s.s_suppkey = l.l_suppkey
           JOIN nation_q11 n ON s.s_nationkey = n.n_nationkey
           JOIN region_q11 r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
         GROUP BY l_partkey
         HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) > (
           SELECT sum(CAST(round(l2.l_extendedprice * 100) AS BIGINT)
               * CAST(l2.l_quantity AS BIGINT)) * 0.001
           FROM lineitem_q11 l2
             JOIN supplier_q11 s2 ON s2.s_suppkey = l2.l_suppkey
             JOIN nation_q11 n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region_q11 r2 ON n2.n_regionkey = r2.r_regionkey
           WHERE r2.r_name = 'ASIA')
         ORDER BY value_cq DESC, p_partkey""")
  }

  /** TPC-H Q12 shape — shipmode priority census: the join + CASE
    * conditional-count aggregate (high- vs low-priority lines per
    * shipping class). The fixture has no l_shipmode, so l_linestatus
    * stands in as the class; "late" = shipped more than 60 days after
    * ordering (the q4 convention — no commit/receipt dates).
    */
  def q12ShipmodePriority(spark: SparkSession, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_q12")
    lineitem.createOrReplaceTempView("lineitem_q12")
    spark.sql(
      """SELECT l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders_q12 o JOIN lineitem_q12 l ON o.o_orderkey = l.l_orderkey
         WHERE CAST(l.l_shipdate AS DATE) >
               date_add(CAST(o.o_orderdate AS DATE), 60)
           AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
         GROUP BY l_linestatus ORDER BY l_linestatus""")
  }

  /** TPC-H Q16 shape — supplier part counts: DISTINCT-count per
    * (brand, type, size) bucket gated by a NOT IN subquery (the
    * null-aware-anti shape q2/q20/q22 didn't pin; the subquery side is
    * non-null by schema so Catalyst must plan a plain anti join, not a
    * per-row subplan). "Complaint" suppliers stand in as negative
    * account balances (no s_comment in the fixture).
    */
  def q16SupplierCounts(spark: SparkSession, part: DataFrame,
      lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    part.createOrReplaceTempView("part_q16")
    lineitem.createOrReplaceTempView("lineitem_q16")
    supplier.createOrReplaceTempView("supplier_q16")
    spark.sql(
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem_q16 l JOIN part_q16 p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
           AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier_q16
                                   WHERE s_acctbal < 0.0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
  }

  def qSqlScripting(spark: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders_script_v")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    spark.sql(
      """BEGIN
           DECLARE floor_price DOUBLE DEFAULT 100000.0;
           DECLARE i INT DEFAULT 0;
           WHILE i < 5 DO
             SET floor_price = floor_price * 1.2;
             SET i = i + 1;
           END WHILE;
           SELECT o_orderpriority, count(*) AS n,
                  round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0D, 2)
                    AS total
           FROM orders_script_v
           WHERE o_totalprice > floor_price
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority;
         END""")
  }
}
