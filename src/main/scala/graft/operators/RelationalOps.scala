package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational transforms — the reference's "Transform: clean or
  * reformat the data for MongoDB compatibility" stage
  * (/root/reference/README.md:22) plus the audit aggregate shape
  * (README.md:28), expressed declaratively so Catalyst keeps pushdown,
  * pruning and whole-stage codegen.
  */
object RelationalOps {

  /** Flagship: TPC-H-Q1-shaped pricing summary. scan → filter → project →
    * hash aggregate (partial+final map-side combine, no extra shuffle
    * beyond the single groupBy exchange) → order. The filter and the
    * 7-column projection both reach the parquet scan (PushedFilters /
    * ReadSchema) — at 100 TB this reads a fraction of the table.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection surface: keep / rename / compute (README.md:22). */
  def project(part: DataFrame): DataFrame =
    part
      .select(
        col("p_partkey"),
        col("p_name").as("part_name"),
        upper(col("p_brand")).as("brand_uc"),
        (col("p_retailprice") * col("p_size")).as("price_x_size"),
        col("p_type"),
        col("p_size"))
      .withColumn("is_large", col("p_size") >= 25)
      .drop("p_size")
      .withColumnRenamed("p_type", "part_type")
      .drop("part_name")
      .orderBy("p_partkey")

  /** Predicate surface: AND/OR/NOT, IN, BETWEEN, LIKE, IS NOT NULL —
    * "Test for invalid responses" (README.md:32) as declarative filters
    * that push down to the scan.
    */
  def filterPred(orders: DataFrame): DataFrame =
    orders
      .filter(
        col("o_orderstatus").isin("O", "F") &&
        col("o_totalprice").between(1000, 300000) &&
        col("o_orderpriority").like("%URGENT%") &&
        !col("o_orderkey").isNull &&
        (col("o_custkey") % 2 === 0 || col("o_totalprice") > 100000))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")

  /** Null handling ("clean", README.md:22): nullif-style mapping, coalesce,
    * na.fill, na.drop. Nulls are manufactured from the data itself (acctbal
    * below a floor → null) so the operator is exercised on real input.
    */
  def nullClean(customer: DataFrame): DataFrame = {
    val withNulls = customer
      .withColumn("bal_or_null", when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .withColumn("seg_or_null", when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")))
    withNulls
      .withColumn("bal_filled", coalesce(col("bal_or_null"), lit(0.0)))
      .na.fill(Map("seg_or_null" -> "UNKNOWN"))
      .filter(col("bal_or_null").isNotNull || col("c_acctbal") < 0)
      .select(
        col("c_custkey"),
        round(col("bal_filled"), 2).as("bal_filled"),
        col("seg_or_null").as("segment"))
      .orderBy("c_custkey")
  }

  /** Type coercion for "MongoDB compatibility" (README.md:22):
    * string↔number↔date casts.
    */
  def castTypes(lineitem: DataFrame): DataFrame =
    lineitem
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").cast("int").as("qty_int"),
        col("l_quantity").cast("string").as("qty_str"),
        col("l_extendedprice").cast("decimal(12,2)").cast("string").as("price_dec_str"),
        col("l_shipdate").cast("date").cast("string").as("ship_day"),
        // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_NTZ,
        // which cannot cast straight to a number; route through TIMESTAMP
        // (identity under the UTC session timezone).
        col("l_shipdate").cast("timestamp").cast("long").as("ship_epoch"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Un-nest JSON-object-shaped data into flat columns (README.md:21–22).
    * The struct is built then flattened — mirroring a nested API document
    * landing in a flat Mongo-compatible collection.
    */
  def flattenNested(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        struct(
          col("o_custkey").as("cust"),
          struct(col("o_totalprice").as("total"), col("o_orderstatus").as("status")).as("amount")
        ).as("doc"))
      .select(
        col("o_orderkey"),
        col("doc.cust").as("cust"),
        col("doc.amount.total").as("total"),
        col("doc.amount.status").as("status"))
      .orderBy("o_orderkey")

  /** Duplicate elimination (update semantics, README.md:28). */
  def distinctPairs(lineitem: DataFrame): DataFrame =
    lineitem
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** Seeded ~10% Bernoulli sample for iterative testing (README.md:31)
    * with PORTABLE determinism: the per-row coin is an md5 over
    * (seed, key), so every engine, partitioning, and scale factor selects
    * the SAME rows — which is what makes the entry oracle-checkable.
    * Changing the seed re-draws the sample. (The built-in
    * `df.sample(fraction, seed)` is stable within Spark only — its random
    * stream is partition-dependent — so it stayed no-oracle; this form
    * replaces it with the same semantics and a cross-engine contract.)
    * The coin compares the first 6 md5 hex digits (a uniform integer in
    * [0, 16^6)) against fraction × 16^6.
    */
  def sample(lineitem: DataFrame, fraction: Double = 0.1, seed: Int = 42): DataFrame = {
    val threshold = (fraction * (1L << 24)).toLong
    val coin = conv(
      substring(md5(concat_ws("|", lit(seed), col("l_orderkey"), col("l_linenumber"))), 1, 6),
      16, 10).cast("long")
    lineitem
      .filter(coin < threshold)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Content-hash sample: ~1/16 of rows chosen by a digest digit of the
    * key. Unlike `sample`, this is independent of engine, partitioning,
    * and scale — the SAME rows are selected everywhere (config-independent
    * repeatability for iterative testing, and the shape used to carve
    * stable eval/holdout splits from a training corpus).
    */
  def sampleHash(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 1) === "a")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** Positional un-nesting: `posexplode` keeps each element's ordinal —
    * required whenever array ORDER carries meaning (token positions,
    * page sequences). A Generator like explode: executor-side row
    * multiplication, no driver involvement.
    */
  def flattenPosexplode(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("int").as("pos"), col("col").as("token"))
      .filter(col("pos") < 5) // first 5 positions: bounded, position-sensitive
      .orderBy("doc_id", "pos")

  /** Validation casts (README.md:32 "clean or reformat" under dirty
    * input): `try_cast` turns unparseable strings into null instead of a
    * job-killing ANSI error — the row-level quarantine for TYPE errors,
    * as scan_json_corrupt is for PARSE errors. Corruption is deterministic
    * (every 7th key) so the null routing is oracle-checkable.
    */
  def castSafe(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("N/A"))
          .otherwise(col("o_custkey").cast("string")).as("custkey_raw"))
      .select(
        col("o_orderkey"),
        expr("try_cast(custkey_raw AS BIGINT)").as("custkey_typed"),
        expr("try_cast(custkey_raw AS BIGINT)").isNotNull.as("valid"))
      .orderBy("o_orderkey")

  /** Stratified content-hash sample: per-stratum sampling RATES (10% of
    * returns, 5% of 'N', 20% otherwise) over the same engine-portable md5
    * basis as `sampleHash` — the downsample-the-majority-class shape of
    * training-data curation, deterministic at any scale and partitioning.
    * Map-side only: no shuffle, the filter streams through the scan.
    */
  def sampleStratified(lineitem: DataFrame): DataFrame = {
    val bucket = conv(
      substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 15),
      16, 10).cast("long") % 100
    val rate = when(col("l_returnflag") === "A", 10)
      .when(col("l_returnflag") === "N", 5)
      .otherwise(20)
    lineitem
      .filter(bucket < rate)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** Dedicated parquet scan entry: typed columnar read with projection +
    * predicate reaching the scan (`PushedFilters`/`ReadSchema` — asserted
    * in PlanSpec). Every other query exercises this implicitly; this row
    * makes the §2.1 scan itself auditable.
    */
  def scanParquet(supplier: DataFrame): DataFrame =
    supplier
      .filter(col("s_acctbal") > 0)
      .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("bal"))
      .orderBy("s_suppkey")

  /** Empty/invalid payload guard (README.md:32, 105): a pipeline over an
    * empty input must produce an empty, correctly-typed result — not a
    * crash.
    */
  def emptyPayloadGuard(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_quantity") < 0) // matches nothing: quantities are positive
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"))
      .orderBy("l_returnflag")

  /** Weighted sampling without replacement per group (Efraimidis–Spirakis
    * A-ES): each row draws u ∈ (0,1) from an md5-seeded coin and competes
    * on key = ln(u)/w — the top-k keys per group are a weight-proportional
    * sample. The importance-sampling primitive of corpus mixing (sample
    * documents ∝ quality score).
    *
    * Scale shape: the key is map-side arithmetic; the per-group cut is
    * the NATIVE TopKPerGroup operator, so candidates reduce to k rows per
    * group map-side before the group exchange — one scan, one k·|groups|
    * shuffle, no full sort. Key rounded at 1e-12 (keys space ~1e-8 apart;
    * see the spec's collision audit) so both engines rank identical
    * values; md5 coins are the house cross-engine randomness contract.
    */
  def sampleWeighted(orders: DataFrame, k: Int = 5): DataFrame = {
    val u = (conv(substring(
      md5(concat(lit("ws|"), col("o_orderkey").cast("string"))), 1, 8), 16, 10)
      .cast("bigint").cast("double") + 0.5) / 4294967296.0
    val keyed = orders
      .filter(col("o_totalprice") > 0)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        round(log(u) / col("o_totalprice"), 12).as("skey"))
    val cut = graft.plans.TopKOps.topKPerGroup(
      keyed, Seq("o_orderpriority"), Seq(("skey", false), ("o_orderkey", true)), k)
    // rank over the already-cut k rows per group (k·|groups| input only)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("skey"), asc("o_orderkey"))
    cut.withColumn("rnk", row_number().over(w))
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("o_totalprice"), col("skey"))
      .orderBy("o_orderpriority", "rnk")
  }
}
