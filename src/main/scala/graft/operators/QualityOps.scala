package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality / validation operators — the reference's validation stage
  * (/root/reference/README.md:31-33: schema checks, timestamps, audit
  * counts) generalized into the declarative expectation suites a 100 TB
  * ingest actually runs: expectations (not-null / unique / accepted-values
  * / range / referential integrity), snapshot profile diffs, distribution
  * drift (PSI), and freshness lag.
  *
  * Scale shape, shared by every operator here: ONE pass over each fact
  * table computing all of its checks as conditional aggregates (the scan
  * dominates at 100 TB, so checks must share it), plus at most one
  * broadcast-able join (the RI probe, the scalar global-max). Outputs are
  * audit-sized (one row per expectation / bucket / column / type), never
  * corpus-sized — the pattern that lets the suite run on every ingest
  * batch without becoming the pipeline's own bottleneck.
  */
object QualityOps {

  /** The event-stream structural checks as shared column expressions —
    * ONE definition consumed by the streaming validator
    * (`StreamOps.streamQuality`), the gated sink
    * (`EtlOps.sinkQualityGate`), and their oracles' spelling, so the
    * three surfaces cannot drift (the pretrain-funnel convention).
    */
  private[graft] val eventOkTypes: Seq[String] =
    Seq("click", "view", "purchase", "signup", "error")

  private[graft] def eventNullUserFail: org.apache.spark.sql.Column =
    sum(when(col("user_id").isNull, 1L).otherwise(0L))

  private[graft] def eventBadTypeFail: org.apache.spark.sql.Column =
    sum(when(coalesce(col("event_type").isin(eventOkTypes.map(lit): _*),
      lit(false)), 0L).otherwise(1L))

  /** Declarative expectation suite over the orders/lineitem ingest:
    * each expectation reports (n_checked, n_failed, pass). The suite
    * deliberately mixes passing checks with a tight `max_value` SLA bound
    * that FAILS on real rows — a validation harness that cannot show a
    * failure is untested by construction.
    *
    * One aggregate pass per table (conditional sums share the scan), one
    * broadcast join for referential integrity. The result is
    * expectation-count-sized.
    */
  def qualityExpectations(
      orders: DataFrame, customer: DataFrame, lineitem: DataFrame): DataFrame = {
    // orders-side checks: one scan, every check a conditional aggregate
    val o = orders.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("f_notnull"),
      // uniqueness over NON-NULL keys (count(col) ignores nulls, matching
      // countDistinct): a null key is a not-null violation, not a
      // uniqueness one — conflating them double-counts the same bad row
      (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
        .as("f_unique"),
      sum(when(coalesce(col("o_orderstatus").isin("O", "F", "P"), lit(false)),
        0L).otherwise(1L)).as("f_accepted"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") > 400000.0,
        1L).otherwise(0L)).as("f_maxval"))
    val oRows = o.selectExpr(
      """stack(4,
           'not_null',        'orders.o_custkey',     n, f_notnull,
           'unique',          'orders.o_orderkey',    n, f_unique,
           'accepted_values', 'orders.o_orderstatus', n, f_accepted,
           'max_value',       'orders.o_totalprice',  n, f_maxval)
         AS (expectation, target, n_checked, n_failed)""")
    // lineitem-side checks: same one-scan shape
    val l = lineitem.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_discount").isNull ||
        col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L).otherwise(0L))
        .as("f_disc"),
      sum(when(col("l_quantity").isNull ||
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L).otherwise(0L))
        .as("f_qty"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("f_ship"))
    val lRows = l.selectExpr(
      """stack(3,
           'range',    'lineitem.l_discount', n, f_disc,
           'range',    'lineitem.l_quantity', n, f_qty,
           'not_null', 'lineitem.l_shipdate', n, f_ship)
         AS (expectation, target, n_checked, n_failed)""")
    // referential integrity: orphan count via one broadcast LEFT probe of
    // the (distinct) key side — at 100 TB the dim keys broadcast, the
    // fact table is never shuffled
    val ri = orders
      .join(broadcast(customer.select(col("c_custkey")).distinct()),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_failed"))
      .select(
        lit("ref_integrity").as("expectation"),
        lit("orders.o_custkey->customer").as("target"),
        col("n_checked"), col("n_failed"))
    oRows.unionByName(lRows).unionByName(ri)
      .withColumn("pass", (col("n_failed") === 0L).cast("int"))
      .orderBy("expectation", "target")
  }

  /** Column-profile diff between two ingest snapshots (here: the orders
    * halves either side of 1998-07-01 — a stand-in for yesterday's vs
    * today's batch). Per column and metric: value in A, value in B, delta.
    * ONE scan computes both snapshots' profiles as filtered aggregates —
    * never two scans, never a self-join.
    */
  def qualityProfileDiff(orders: DataFrame): DataFrame = {
    val inA = col("o_orderdate") < lit("1998-07-01").cast("timestamp")
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L)).cast("double")
    val prof = orders.agg(
      cnt(inA).as("a_rows"), cnt(!inA).as("b_rows"),
      cnt(inA && col("o_totalprice").isNull).as("a_tp_nulls"),
      cnt(!inA && col("o_totalprice").isNull).as("b_tp_nulls"),
      countDistinct(when(inA, col("o_totalprice"))).cast("double").as("a_tp_distinct"),
      countDistinct(when(!inA, col("o_totalprice"))).cast("double").as("b_tp_distinct"),
      round(min(when(inA, col("o_totalprice"))), 2).as("a_tp_min"),
      round(min(when(!inA, col("o_totalprice"))), 2).as("b_tp_min"),
      round(max(when(inA, col("o_totalprice"))), 2).as("a_tp_max"),
      round(max(when(!inA, col("o_totalprice"))), 2).as("b_tp_max"),
      round(avg(when(inA, col("o_totalprice"))), 2).as("a_tp_mean"),
      round(avg(when(!inA, col("o_totalprice"))), 2).as("b_tp_mean"),
      countDistinct(when(inA, col("o_orderstatus"))).cast("double").as("a_st_distinct"),
      countDistinct(when(!inA, col("o_orderstatus"))).cast("double").as("b_st_distinct"),
      countDistinct(when(inA, col("o_orderpriority"))).cast("double").as("a_pr_distinct"),
      countDistinct(when(!inA, col("o_orderpriority"))).cast("double").as("b_pr_distinct"))
    prof.selectExpr(
      """stack(8,
           '_table',          'row_count', a_rows,        b_rows,
           'o_totalprice',    'null_count', a_tp_nulls,   b_tp_nulls,
           'o_totalprice',    'n_distinct', a_tp_distinct, b_tp_distinct,
           'o_totalprice',    'min',        a_tp_min,      b_tp_min,
           'o_totalprice',    'max',        a_tp_max,      b_tp_max,
           'o_totalprice',    'mean',       a_tp_mean,     b_tp_mean,
           'o_orderstatus',   'n_distinct', a_st_distinct, b_st_distinct,
           'o_orderpriority', 'n_distinct', a_pr_distinct, b_pr_distinct)
         AS (col_name, metric, a, b)""")
      .withColumn("delta", round(col("b") - col("a"), 2))
      .orderBy("col_name", "metric")
  }

  /** Population Stability Index — the standard distribution-drift score
    * between two snapshots, per bucket plus the summary row (bucket = -1).
    * Fixed closed-form bucket edges (width 50k, capped at bucket 9) so the
    * bucketing is map-side arithmetic with no quantile pass; Laplace
    * smoothing (+1 / +10) keeps empty buckets finite. The summary PSI sums
    * per-bucket terms in integer micro-units (round-before-sum) so the
    * total is summation-order-proof across engines. The only shuffle is a
    * 10-group aggregate.
    */
  def qualityDriftPsi(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val inA = col("o_orderdate") < lit("1998-07-01").cast("timestamp")
    val bucket = least(floor(col("o_totalprice") / 50000.0), lit(9.0)).cast("int")
    val counts = orders
      .select(bucket.as("bucket"), inA.as("in_a"))
      .groupBy("bucket")
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("n_b"))
      // feeds BOTH the per-bucket rows and the totals below — pinned so
      // the totals really do come from this one scan instead of Spark
      // re-running the aggregate per consumer
      .localCheckpoint()
    // totals derived from the bucket counts (null-price rows land in the
    // null-bucket group, so the sums cover every order) — no second scan
    // of the fact table; the scan-sharing contract in the header holds
    val totals = counts.agg(
      sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    // bucket spine 0..9: absent buckets must still appear (smoothed)
    val spine = spark.range(10).select(col("id").cast("int").as("bucket"))
    val perBucket = spine
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"), col("n_a"), col("n_b"),
        ((col("n_a") + 1.0) / (col("tot_a") + 10.0)).as("p_a"),
        ((col("n_b") + 1.0) / (col("tot_b") + 10.0)).as("p_b"))
      .withColumn("psi_u",
        round((col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")) * 1e6)
          .cast("long"))
    val summary = perBucket.agg(
      sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"),
      sum(col("psi_u")).as("psi_u"))
      .select(lit(-1).as("bucket"), col("n_a"), col("n_b"),
        lit(null).cast("double").as("p_a"), lit(null).cast("double").as("p_b"),
        col("psi_u"))
    perBucket.unionByName(summary)
      .select(
        col("bucket"), col("n_a"), col("n_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        (col("psi_u") / 1e6).as("psi"))
      .orderBy("bucket")
  }

  /** The one-call dataset-quality CARD (the `pipeline_dataset_card`
    * stance applied to validation): every audit family reduced to its
    * headline numbers in one (section, metric, value) table — what a
    * release pipeline stores per ingest run. Composes the four audits
    * verbatim (shared operators, shared oracle CTEs — the report cannot
    * drift from the audits it summarizes); each section's input is
    * already audit-sized, so the report costs the audits plus arithmetic.
    */
  def qualityReport(
      orders: DataFrame, customer: DataFrame, lineitem: DataFrame,
      events: DataFrame): DataFrame = {
    val ex = qualityExpectations(orders, customer, lineitem).agg(
      sum(when(col("n_failed") > 0, 1L).otherwise(0L)).cast("double").as("a"),
      sum(col("n_failed")).cast("double").as("b"))
      .selectExpr("""stack(2,
          'expectations', 'n_failing_checks', a,
          'expectations', 'total_failed_rows', b) AS (section, metric, value)""")
    val dr = qualityDriftPsi(orders).filter(col("bucket") === -1)
      .select(lit("drift").as("section"), lit("psi_total").as("metric"),
        col("psi").as("value"))
    val fr = qualityFreshness(events).agg(
      sum(col("stale")).cast("double").as("a"),
      max(col("lag_us")).cast("double").as("b"))
      .selectExpr("""stack(2,
          'freshness', 'n_stale_types', a,
          'freshness', 'max_lag_us', b) AS (section, metric, value)""")
    val an = qualityAnomaly(events)
      .agg(sum(col("outlier")).cast("double").as("v"))
      .select(lit("anomaly").as("section"), lit("n_outlier_days").as("metric"),
        col("v").as("value"))
    ex.unionByName(dr).unionByName(fr).unionByName(an)
      .orderBy("section", "metric")
  }

  /** Metric anomaly detection: robust z-scores (Iglewicz–Hoaglin,
    * 0.6745·(x−median)/MAD, |z| > 3.5) over the daily event-count series
    * — the volume-burst alarm every ingest pipeline runs. A synthetic
    * 8×-max burst day is PLANTED (the textPiiMask convention: the corpus
    * carries no anomaly, so the detector's firing path must bring its
    * own) and the detector must flag it.
    *
    * Scale shape: the day histogram is one corpus aggregate and is
    * CALENDAR-bounded (days, not rows) — the median/MAD pass over it is
    * the house bounded-histogram exemption; both scalars broadcast back.
    */
  def qualityAnomaly(events: DataFrame): DataFrame =
    anomalyScore(events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The robust-z scorer over a (day, n) histogram — shared by the batch
    * entry and the streaming twin (`StreamOps.streamAnomaly`), which
    * maintains the histogram incrementally and scores the drained state.
    */
  private[graft] def anomalyScore(daily: DataFrame): DataFrame = {
    // spike day DERIVED from the series (max day + 30) so it can never
    // collide with a real day key regardless of the fixture's date span —
    // a hard-coded calendar date would order nondeterministically against
    // a genuine row on that date and break the row-for-row oracle hash
    val spike = daily.agg(max(col("n")).as("m"),
        date_add(max(col("day")), 30).as("day"))
      .select(col("day"), (col("m") * 8L).as("n"))
    val d = daily.unionByName(spike)
    val med = d.agg(expr("percentile(n, 0.5)").as("med"))
    val withMed = d.crossJoin(broadcast(med))
    val mad = withMed.agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
    // median/MAD of integer counts are exact half-integers: carry the
    // z statistic as the exact integer rational z_num/z_den
    // (z = 0.6745·z_num/z_den) and decide |z| > 3.5 by integer
    // cross-multiplication — no float rounding anywhere, so no
    // half-way-boundary drift between engines (the 0.6745·k/8 lesson)
    val zNum = (col("n") * 2L - (col("med") * 2.0).cast("long")).as("z_num")
    val zDen = (col("mad") * 2.0).cast("long")
    withMed.crossJoin(broadcast(mad))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("med"), col("mad"),
        zNum, zDen.as("z_den"),
        when(zDen === 0L, lit(0))
          .otherwise((abs(col("n") * 2L - (col("med") * 2.0).cast("long"))
            * 6745L > zDen * 35000L).cast("int")).as("outlier"))
      .orderBy("day")
  }

  /** Per-SLICE robust-z monitoring — [[qualityAnomaly]] grouped by event
    * type: a burst confined to one event type drowns in the global daily
    * total (5 types ⇒ an 8× burst in one reads as ~2.4× overall), so the
    * production monitor runs per slice. Same kernel arithmetic — exact
    * half-integer median/MAD per type, the z statistic as an integer
    * rational, the planted 8×-max spike per type on a derived future day
    * — with the medians/MADs now per-group aggregates joined back
    * (|types|-row tables, broadcast). State stays |types| × days.
    */
  def qualityAnomalyGrouped(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spike = daily.groupBy(col("event_type"))
      .agg(max(col("n")).as("m"), date_add(max(col("day")), 30).as("day"))
      .select(col("event_type"), col("day"), (col("m") * 8L).as("n"))
    val d = daily.unionByName(spike)
    val med = d.groupBy(col("event_type"))
      .agg(expr("percentile(n, 0.5)").as("med"))
    val withMed = d.join(broadcast(med), "event_type")
    val mad = withMed.groupBy(col("event_type"))
      .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
    val zDen = (col("mad") * 2.0).cast("long")
    withMed.join(broadcast(mad), "event_type")
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("med"), col("mad"),
        (col("n") * 2L - (col("med") * 2.0).cast("long")).as("z_num"),
        zDen.as("z_den"),
        when(zDen === 0L, lit(0))
          .otherwise((abs(col("n") * 2L - (col("med") * 2.0).cast("long"))
            * 6745L > zDen * 35000L).cast("int")).as("outlier"))
      .orderBy("event_type", "day")
  }

  /** Weekday SEASONAL DECOMPOSITION of the daily event-volume series —
    * the deseasonalizing sibling of [[qualityAnomaly]]: a Monday dip that
    * is NORMAL for Mondays should not page anyone, so the monitor needs
    * observed = seasonal (per-weekday mean) + residual. Integer-exact:
    * the seasonal component is (sum·10⁶) DIV count per weekday (both
    * engines truncate identically on non-negative counts), residual in
    * the same micro-units. Scale shape: the day histogram is the one
    * corpus aggregate; the weekday table is 7 rows broadcast back —
    * everything downstream is calendar-bounded.
    */
  def tsSeasonalDecompose(events: DataFrame): DataFrame =
    seasonalScore(events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The weekday decomposition over a (day, n) histogram — shared by the
    * batch entry and the streaming twin (`StreamOps.streamSeasonal`),
    * which maintains the histogram incrementally and decomposes the
    * drained state (the anomalyScore sharing pattern).
    */
  private[graft] def seasonalScore(daily: DataFrame): DataFrame = {
    val dowed = daily.withColumn("dow", (dayofweek(col("day")) - 1).cast("int"))
    val seasonal = dowed.groupBy(col("dow"))
      .agg(expr("(sum(n) * 1000000) DIV count(*)").as("seasonal_u"))
    dowed.join(broadcast(seasonal), "dow")
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"), col("n"), col("seasonal_u"),
        (col("n") * 1000000L - col("seasonal_u")).as("residual_u"))
      .orderBy("day")
  }

  /** Holt LINEAR exponential smoothing over the daily volume series —
    * the level+trend forecaster (Holt 1957) completing the monitoring
    * family: anomaly flags bursts, cusum flags sustained shifts,
    * seasonal removes the weekday shape, Holt tracks where the series
    * is HEADING (l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}; zero-trend init).
    */
  def tsHolt(events: DataFrame): DataFrame =
    holtScore(events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The FORECAST off the fitted Holt state — l_T + k·b_T for the next
    * `horizon` days (what the capacity planner reads off the tracker):
    * one 1-row tail pick of [[tsHolt]]'s output (the yyyy-MM-dd string
    * orders chronologically) exploded over the horizon. The projection
    * uses the ROUNDED published level/trend, so forecast and fitted
    * table can never disagree about the state they share.
    */
  def tsHoltForecast(events: DataFrame, horizon: Int = 7): DataFrame =
    tsHolt(events)
      .orderBy(desc("day")).limit(1)
      .select(explode(sequence(lit(1), lit(horizon))).as("k"),
        col("day"), col("level"), col("trend"))
      .select(col("k"),
        date_format(expr("date_add(to_date(day), k)"), "yyyy-MM-dd").as("day"),
        round(col("level") + col("k") * col("trend"), 6).as("forecast"))
      .orderBy("k")

  /** The Holt recurrence over a (day, n) histogram — shared by the batch
    * entry and the streaming twin, like seasonalScore/cusumScore. The
    * recurrence is a genuine sequential fold (each state needs the full
    * prefix), run as an array fold over the calendar-bounded day series
    * (the bounded-histogram exemption — state is days, never corpus) in
    * EXACTLY the IEEE operation order the oracle's recursive CTE uses,
    * so doubles match bit-for-bit (the agg_ewma convention).
    */
  private[graft] def holtScore(
      daily: DataFrame, alpha: Double = 0.5, beta: Double = 0.3): DataFrame = {
    val ser = daily
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("s"))
    val acc0 = array().cast("array<struct<day:date,n:bigint,l:double,b:double>>")
    val folded = ser.select(aggregate(col("s"), acc0, (acc, x) => {
      val yt = x.getField("n").cast("double")
      val prev = element_at(acc, -1)
      val lNew = lit(alpha) * yt +
        lit(1 - alpha) * (prev.getField("l") + prev.getField("b"))
      when(size(acc) === 0,
        array(struct(x.getField("day").as("day"), x.getField("n").as("n"),
          yt.as("l"), lit(0.0).as("b"))))
        .otherwise(concat(acc, array(struct(
          x.getField("day").as("day"), x.getField("n").as("n"),
          lNew.as("l"),
          (lit(beta) * (lNew - prev.getField("l")) +
            lit(1 - beta) * prev.getField("b")).as("b")))))
    }).as("tr"))
    folded.select(explode(col("tr")).as("r"))
      .select(date_format(col("r.day"), "yyyy-MM-dd").as("day"),
        col("r.n").as("n"),
        round(col("r.l"), 6).as("level"),
        round(col("r.b"), 6).as("trend"))
      .orderBy("day")
  }

  /** CUSUM level-shift detection over the daily volume series — the
    * classic sequential change detector (S_t = max(0, S_{t−1} + x_t − μ
    * − κ), alarm when S_t > h): a sustained small shift accumulates
    * where the robust-z detector only sees single-day bursts. The
    * recursive clamp is NOT a window function, but the reflection
    * identity S_t = P_t − min(0, min_{j≤t} P_j) turns it into a prefix
    * sum + running min — two plain windows over the calendar-bounded day
    * histogram (the bounded-histogram exemption), no sequential fold.
    * All integer micro-units: μ from one aggregate, slack κ = μ/10,
    * threshold h = μ. A ×2 level shift is PLANTED on five synthetic days
    * after max(day) (the derived-spike convention — no collision with
    * real day keys) and the alarm must fire inside the shifted window.
    */
  def qualityCusum(events: DataFrame): DataFrame =
    cusumScore(events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The CUSUM scorer over a (day, n) histogram — shared by the batch
    * entry and the streaming twin (`StreamOps.streamCusum`), the third
    * monitoring kernel on the shared drained-histogram state.
    */
  private[graft] def cusumScore(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shift = daily.agg(max(col("day")).as("md"), max(col("n")).as("mn"))
      .select(explode(sequence(lit(1), lit(5))).as("k"), col("md"), col("mn"))
      .select(date_add(col("md"), col("k")).as("day"), (col("mn") * 2L).as("n"))
    val d = daily.unionByName(shift)
    val stats = d.agg(expr("(sum(n) * 1000000) DIV count(*)").as("mu_u"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val cusum = (col("p_u") - least(col("m_u"), lit(0L)))
    d.crossJoin(broadcast(stats))
      .withColumn("inc_u",
        col("n") * 1000000L - col("mu_u") - expr("mu_u DIV 10"))
      .withColumn("p_u", sum(col("inc_u")).over(w))
      .withColumn("m_u", min(col("p_u")).over(w))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        cusum.as("cusum_u"),
        (cusum > col("mu_u")).cast("int").as("alarm"))
      .orderBy("day")
  }

  /** Freshness audit: per event type, event count, last-seen timestamp
    * (epoch micros — the cross-engine timestamp contract), lag behind the
    * freshest type, and a stale flag at a 20-minute SLA. The global max
    * is a 1-row aggregate broadcast back (the house scalar-broadcast
    * pattern) — per-type state is type-count-sized, never event-sized.
    */
  def qualityFreshness(events: DataFrame): DataFrame = {
    val staleUs = 20L * 60L * 1000000L
    val perType = events.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      max(unix_micros(col("ts"))).as("last_seen_us"))
    val globalMax = perType.agg(max(col("last_seen_us")).as("global_max_us"))
    perType.crossJoin(broadcast(globalMax))
      .select(
        col("event_type"), col("n_events"), col("last_seen_us"),
        (col("global_max_us") - col("last_seen_us")).as("lag_us"),
        ((col("global_max_us") - col("last_seen_us")) > staleUs).cast("int")
          .as("stale"))
      .orderBy("event_type")
  }
}
