package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational/analytics operator inventory (SURVEY.md §2.2).
  *
  * Numeric determinism policy: every aggregated double measure is cast to
  * DECIMAL before summing (exact, partition-order-independent arithmetic),
  * and only then cast back to double — so the result hashes identically to
  * the DuckDB oracle regardless of partitioning. Ratios are computed as
  * double division of exact aggregates, rounded to a fixed scale. Every
  * query ends in an explicit ORDER BY on its key columns.
  *
  * Scale notes are given per query; dims (nation/region) are broadcast,
  * facts shuffle on their natural keys, and AQE handles skew/coalesce.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary: multi-key hash aggregate with
    * computed measures. Map-side partial aggregation collapses ~6M rows/
    * partition to 6 groups before the shuffle — scales linearly. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").as("sum_qty"),
        expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").as("sum_base_price"),
        // per-row product in double (bit-identical across engines), then
        // decimal cast so the SUM itself is order-independent and exact
        expr("cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double)").as("sum_disc_price"),
        expr("cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) as decimal(18,6))) as double)").as("sum_charge"),
        expr("round(cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*), 6)").as("avg_qty"),
        expr("round(cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*), 6)").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Star join: orders ⋈ customer ⋈ nation ⋈ region, revenue per nation.
    * nation/region are tiny → broadcast; customer is a small dim that AQE
    * will also broadcast; orders shuffles only for the final aggregate. */
  def q2RevenueByNation(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name".as("region_name"), $"n_name".as("nation_name"))
      .agg(
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"region_name", $"nation_name")

  /** Top-K by aggregate: per-order lineitem revenue, top 10. The sort is
    * a TakeOrderedAndProject (per-partition top-K + driver merge of K·P
    * rows), not a global sort — constant memory at any scale. The scan
    * is rebalanced first: the partial aggregate is high-cardinality
    * (one group per order) and CPU-bound on decimal math, so it wants
    * every core even when the scan yields few splits (measured 1.5x
    * here; at cluster scale AQE coalesces the exchange away). */
  def q3TopkOrders(spark: SparkSession, dir: String): DataFrame =
    graft.functions.TextOps.balanced(Tables.lineitem(spark, dir))
      .groupBy($"l_orderkey")
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,6)) - cast(l_discount as decimal(18,6)))) as double)").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)

  /** TPC-H Q6-style selective scan: range + predicate filters that all
    * push down to the parquet scan (verified in PlanSpec). */
  def q4FilterRange(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= expr("timestamp'1996-01-01 00:00:00'") &&
        $"l_shipdate" < expr("timestamp'1998-01-01 00:00:00'") &&
        $"l_discount" >= 0.03 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(
        expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,6))) as double)").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Window functions: per-customer order sequence + running total.
    * Single shuffle on o_custkey; both window functions share one
    * partitioning/ordering so Spark evaluates them in one Window op. */
  def q5WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("run_total",
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) over (partition by o_custkey order by o_orderdate, o_orderkey rows between unbounded preceding and current row) as double)"))
      .select($"o_custkey", $"o_orderkey", $"rn", $"run_total")
      .orderBy($"o_custkey", $"rn")
  }

  /** Exact distinct count per group (expands to two-phase aggregate). */
  def q6DistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy($"event_type")

  /** HLL sketch distinct (rows-only check: sketch internals differ from
    * DuckDB's approx_count_distinct, so no value oracle). At 100 TB this
    * is the one you run: fixed-size sketch, no distinct shuffle. */
  def q6bApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.01).as("approx_users"))
      .orderBy($"event_type")

  /** Left-semi + left-anti joins (existence tests without row blowup). */
  def q7SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val semi = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", lit(true).as("has_orders"))
    val anti = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", lit(false).as("has_orders"))
    semi.unionAll(anti).orderBy($"c_custkey")
  }

  /** ROLLUP hierarchical aggregate over segment × priority. */
  def q8Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .rollup($"c_mktsegment", $"o_orderpriority")
      .agg(
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(coalesce($"c_mktsegment", lit("ALL")).as("mktsegment"),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"revenue", $"n_orders")
      .orderBy($"mktsegment", $"orderpriority")

  /** Scalar-subquery filter: orders above the global average price.
    * The average is computed as exact-decimal sum / count so the
    * threshold is identical across engines and partitionings. */
  def q9AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("graft_orders_q9")
    spark.sql(
      """select o_orderkey, o_totalprice from graft_orders_q9
        |where o_totalprice > (select cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*) from graft_orders_q9)
        |order by o_orderkey""".stripMargin)
  }

  /** Set operation: customers ordering in both 1995 and 1996 (INTERSECT). */
  def q10RepeatBuyers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val y95 = o.filter(expr("year(o_orderdate) = 1995")).select($"o_custkey")
    val y96 = o.filter(expr("year(o_orderdate) = 1996")).select($"o_custkey")
    y95.intersect(y96).orderBy($"o_custkey")
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: event counts per day × type. Pivot values are declared
    * statically (no driver-side distinct scan). */
  def q11PivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", EventTypes)
      .count()
    EventTypes.foldLeft(pivoted)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy($"day")
  }

  /** JSON extraction from the props column + aggregate by extracted key. */
  def q12JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k_val", expr("cast(get_json_object(props, '$.k') as bigint)"))
      .groupBy(expr("k_val % 10").as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value"))
      .orderBy($"k_bucket")

  /** As-of join: for each event, the latest order of the same user at or
    * before the event timestamp. Composed from an equi-join on user (the
    * shuffle key) + range predicate + max-aggregate — Spark's sort-merge
    * join handles the equi part; the range predicate filters within the
    * per-user group, so cost is |events per user| × |orders per user|,
    * bounded by the user cardinality, not the table product. */
  def q13AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select($"event_id", $"user_id", $"ts")
    val o = Tables.orders(spark, dir).select($"o_custkey", $"o_orderkey", $"o_orderdate")
    e.join(o, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"ts", "left")
      .groupBy($"event_id", $"user_id")
      .agg(max($"o_orderdate").as("last_order_ts"), count($"o_orderkey").as("n_prior_orders"))
      .orderBy($"event_id")
  }

  /** Gap-based sessionization (30 min idle → new session) via window
    * lag + running sum; single shuffle on user_id. */
  def q14Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros($"ts"))
      .withColumn("new_sess",
        when(lag($"ts_us", 1).over(byUser).isNull, 1L)
          .when($"ts_us" - lag($"ts_us", 1).over(byUser) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(byUser))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts_us").as("start_us"), max($"ts_us").as("end_us"))
      .orderBy($"user_id", $"session_id")
  }

  /** Tumbling 1-hour aggregate — the batch twin of the streaming
    * windowed count (streaming.Streams.tumblingCounts). */
  def q15TumblingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value"))
      .orderBy($"hour", $"event_type")

  /** Full outer join: per-nation customer/supplier counts, either side
    * may be absent. Pre-aggregated inputs keep the join tiny. */
  def q16FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir).groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"))
    val sn = Tables.supplier(spark, dir).groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supp"))
    cn.join(sn, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(
        coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"),
        coalesce($"n_supp", lit(0L)).as("n_supp"))
      .orderBy($"nationkey")
  }

  /** Exact percentiles (sort-based, linear interpolation) per group.
    * At scale prefer approx_percentile; this is the exact twin with a
    * deterministic result for the oracle. */
  def q17Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("ps"),
        count(lit(1)).as("n"))
      .select($"o_orderpriority",
        expr("round(element_at(ps, 1), 4)").as("p25"),
        expr("round(element_at(ps, 2), 4)").as("p50"),
        expr("round(element_at(ps, 3), 4)").as("p75"),
        $"n")
      .orderBy($"o_orderpriority")

  /** CUBE aggregate over segment × status (all 4 grouping combinations). */
  def q18Cube(spark: SparkSession, dir: String): DataFrame = {
    // Aggregate-before-expand: CUBE plans an Expand that multiplies its
    // input ×4 (one copy per grouping set), so cubing the raw join
    // would push every joined row through the aggregate four times.
    // Computing the base cells first (one ordinary aggregate, ~35
    // cells) and cubing THAT means the Expand runs over the cell
    // table, not the fact stream — the margins are sums of exact
    // decimal partials, so every value is bit-identical to the direct
    // formulation at any scale.
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderstatus")
      .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"),
        count(lit(1)).as("n"))
    base.cube($"c_mktsegment", $"o_orderstatus")
      .agg(expr("cast(sum(rev) as double)").as("revenue"),
        sum($"n").as("n_orders"))
      .select(coalesce($"c_mktsegment", lit("ALL")).as("mktsegment"),
        coalesce($"o_orderstatus", lit("ALL")).as("orderstatus"),
        $"revenue", $"n_orders")
      .orderBy($"mktsegment", $"orderstatus")
  }

  /** String function coverage: case, substring, length, replace. */
  def q19StringOps(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select($"p_partkey",
        upper($"p_brand").as("u_brand"),
        expr("substring(p_name, 1, 10)").as("name10"),
        expr("cast(length(p_name) as bigint)").as("n_chars"),
        expr("replace(p_type, ' ', '_')").as("type_slug"))
      .orderBy($"p_partkey")

  /** NTILE quartile bucketing per group + per-bucket stats. */
  def q21Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("bucket", ntile(4).over(w).cast("bigint"))
      .groupBy($"o_orderpriority", $"bucket")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
      .orderBy($"o_orderpriority", $"bucket")
  }

  /** Conditional (FILTER-style) aggregation + HAVING. */
  def q20FilteredAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(when($"o_orderstatus" === "F", 1)).as("n_finished"),
        expr("cast(sum(case when o_totalprice > 100000 then 1 else 0 end) as bigint)").as("n_big"))
      .filter($"n" > 10)
      .orderBy($"o_orderpriority")

  /** Correlated scalar subquery: orders above their own customer's
    * average (exact-decimal per-customer threshold). Catalyst rewrites
    * the correlation into an aggregate + join — no per-row subquery
    * execution. */
  def q22CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_q22")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM graft_orders_q22 o
        |WHERE o_totalprice > (
        |  SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*)
        |  FROM graft_orders_q22 i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Time-dimension ROLLUP: revenue by year → quarter. */
  def q23TimeRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("yr", expr("cast(year(o_orderdate) as bigint)"))
      .withColumn("qtr", expr("cast(quarter(o_orderdate) as bigint)"))
      .rollup($"yr", $"qtr")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(coalesce($"yr", lit(-1L)).as("yr"),
        coalesce($"qtr", lit(-1L)).as("qtr"), $"revenue", $"n_orders")
      .orderBy($"yr", $"qtr")

  /** Nested types: per-customer sorted order-key array + array stats. */
  def q24CollectArrays(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list($"o_orderkey")).as("order_keys"))
      .select($"o_custkey",
        expr("cast(size(order_keys) as bigint)").as("n"),
        element_at($"order_keys", 1).as("first_key"),
        element_at($"order_keys", -1).as("last_key"))
      .orderBy($"o_custkey")

  /** Explicit GROUPING SETS (the general form behind rollup/cube). */
  def q26GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_q26")
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue,
        |       count(*) AS n
        |FROM graft_orders_q26
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        |ORDER BY 1, 2""".stripMargin)
  }

  /** Moving 30-day revenue per customer via a RANGE window frame over
    * epoch days (numeric range frames behave identically across
    * engines). */
  def q27RangeFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("od", expr("cast(unix_date(cast(o_orderdate as date)) as bigint)"))
      .withColumn("rev30", expr(
        """cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
          |  PARTITION BY o_custkey ORDER BY od
          |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) as double)""".stripMargin))
      .groupBy($"o_custkey")
      .agg(expr("round(max(rev30), 4)").as("max_rev30"), count(lit(1)).as("n"))
      .orderBy($"o_custkey")

  /** Window navigation: first/last/nth order value per customer. */
  def q28WindowNav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .withColumn("first_key", first($"o_orderkey").over(w))
      .withColumn("last_key", last($"o_orderkey").over(w))
      .withColumn("second_key", nth_value($"o_orderkey", 2).over(w))
      .groupBy($"o_custkey")
      .agg(max($"first_key").as("first_key"), max($"last_key").as("last_key"),
        max($"second_key").as("second_key"))
      .orderBy($"o_custkey")
  }

  /** Null-semantics coverage: count skips nulls, SUM of all-null is
    * NULL, DISTINCT excludes nulls, MAX ignores nulls — identical
    * three-valued-logic behavior to the oracle. */
  def q25NullSemantics(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        expr("count(nullif(event_type, 'error'))").as("n_non_error"),
        expr("cast(sum(cast(nullif(value, value) as decimal(18,2))) as double)").as("sum_all_null"),
        expr("count(distinct nullif(event_type, 'error'))").as("n_distinct_non_error"),
        expr("max(nullif(event_type, 'view'))").as("max_et"))

  /** Mean/variance/stddev per group, computed from exact decimal sums
    * via the E[x²]−E[x]² identity — engine-native stddev uses different
    * accumulation (Welford vs naive) and would not hash-match; this
    * form is partition-order independent AND cross-engine exact. */
  def q29Stats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("s1"),
        expr("cast(sum(cast(o_totalprice * o_totalprice as decimal(30,4))) as double)").as("s2"))
      .select($"o_orderpriority", $"n",
        expr("round(s1 / n, 4)").as("mean_price"),
        expr("round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)").as("stddev_price"))
      .orderBy($"o_orderpriority")

  /** Z-score anomaly detection: events whose value deviates > 3σ from
    * their event-type mean (stats via the exact-sum identity, broadcast
    * back onto the stream of events — one tiny aggregate + a map-side
    * join at any scale). */
  def q30Anomaly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stats = e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(value as decimal(18,2))) as double)").as("s1"),
        expr("cast(sum(cast(value * value as decimal(30,4))) as double)").as("s2"))
      .select($"event_type", expr("s1 / n").as("mean_v"),
        expr("sqrt((s2 - s1 * s1 / n) / (n - 1))").as("sd_v"))
    e.join(broadcast(stats), "event_type")
      .withColumn("z", expr("(value - mean_v) / sd_v"))
      .filter(expr("abs(z) > 3"))
      .select($"event_id", $"event_type", $"value", expr("round(z, 6)").as("z"))
      .orderBy($"event_id")
  }

  /** Deterministic systematic sampling: ~1/8 of rows selected by md5
    * prefix of the key — reproducible across engines and runs (unlike
    * seeded RNG sampling, where engines disagree), the pattern for
    * auditable eval-split carving at scale. */
  def q31Sample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(expr("substring(md5(cast(o_orderkey as string)), 1, 1) IN ('0', '1')"))
      .agg(count(lit(1)).as("n_sampled"),
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("revenue"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))

  /** Keep-latest-per-key dedup (the CDC/compaction pattern): one row per
    * user — the most recent event, ties broken on event_id. Single
    * shuffle on the key; at scale this is the standard "latest snapshot"
    * materialization over an append-only log. */
  def q32LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts".as("last_ts"), $"event_type", $"value")
      .orderBy($"user_id")
  }

  /** Set difference (EXCEPT): customers who ordered in 1996 but not in
    * 1997 — churn carving. Distinct set semantics in both engines. */
  def q33Except(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c96 = o.filter(expr("year(o_orderdate) = 1996")).select($"o_custkey".as("custkey"))
    val c97 = o.filter(expr("year(o_orderdate) = 1997")).select($"o_custkey".as("custkey"))
    c96.except(c97).orderBy($"custkey")
  }

  /** Date arithmetic: monthly order→ship latency (avg/max days between
    * order date and line ship date). Integer day diffs summed exactly;
    * one divide at the edge. */
  def q34DateArith(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .withColumn("lat", expr(
        "cast(datediff(cast(l_shipdate as date), cast(o_orderdate as date)) as bigint)"))
      .groupBy(expr("cast(year(o_orderdate) as bigint)").as("y"),
        expr("cast(month(o_orderdate) as bigint)").as("m"))
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(lat) as double) / count(*)").as("avg_latency_days"),
        max($"lat").as("max_latency_days"))
      .orderBy($"y", $"m")

  /** Approximate percentiles (Greenwald-Khanna sketch, accuracy 1e4):
    * the sketch mergeable across partitions — the scale path where the
    * exact sort-based percentile (q17) is too expensive. Rows-only vs
    * the oracle (sketch internals are engine-specific); the spec bounds
    * its error against the exact answer instead. */
  def q36ApproxQuantile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(expr("approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.75D), 10000)").as("ps"),
        count(lit(1)).as("n"))
      .select($"o_orderpriority",
        expr("round(element_at(ps, 1), 4)").as("p25"),
        expr("round(element_at(ps, 2), 4)").as("p50"),
        expr("round(element_at(ps, 3), 4)").as("p75"),
        $"n")
      .orderBy($"o_orderpriority")

  /** Regex extraction over text: occurrences + first match of a word
    * pattern — the scan-side feature-extraction pass (same RE2/Java-
    * compatible pattern class as the PII masker). */
  def q35RegexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(regexp_extract_all($"text", lit("\\bs[a-z]+"), lit(0))).cast("bigint").as("n_s_words"),
        regexp_extract($"text", "\\b(s[a-z]+)", 1).as("first_s_word"))
      .orderBy($"doc_id")

  /** Stratified sampling to per-source target rates (domain-mixture
    * weighting): each source keeps a deterministic md5-prefix carve of
    * its rows — 25% for even-numbered sources, 75% for odd. The carve
    * is a pure per-row predicate (no shuffle, no RNG state), so the
    * sample is reproducible under any partitioning and the rates can be
    * re-weighted without re-reading unaffected sources. Output is the
    * per-source audit (target vs achieved rate, kept-key span). */
  def q37StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("thr", expr(
        "if(cast(substring(source, 4) as int) % 2 = 0, 64, 192)"))
      .withColumn("hx", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10) as int)"))
      .groupBy($"source")
      .agg(
        expr("cast(max(thr) as double) / 256").as("target_rate"),
        count(lit(1)).as("n_total"),
        expr("cast(sum(if(hx < thr, 1, 0)) as bigint)").as("n_sampled"),
        expr("cast(sum(if(hx < thr, 1, 0)) as double) / count(*)").as("achieved_rate"),
        expr("min(if(hx < thr, doc_id, null))").as("min_kept"),
        expr("max(if(hx < thr, doc_id, null))").as("max_kept"))
      .orderBy($"source")

  /** Interval (range) join — per-anchor 7-day attribution: for every
    * `signup` event, the same user's activity (count + value) in the
    * following 7 days. NOTE: the original formulation joined events to
    * ORDERS, but the synthetic calendars never overlap (events are one
    * 2024 month, orders 1995-2001) — the gate was vacuously green on 0
    * rows at every SF; the round-7 vacuity audit caught it, and the
    * same-stream formulation exercises the identical range-predicate
    * join shape non-vacuously. Equi-key (user) + range on ts: Spark
    * plans the equi-part as the shuffle key, the range as a post-join
    * filter — the standard scalable attribution shape. */
  def q38IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val anchors = e.filter($"event_type" === "signup")
      .select($"user_id", $"event_id".as("anchor_id"), $"ts".as("t0"))
    val acts = e.select($"user_id", $"ts", $"value", $"event_id")
    anchors.join(acts,
        anchors("user_id") === acts("user_id") &&
          $"ts" > $"t0" && $"ts" <= $"t0" + expr("INTERVAL 7 DAYS"))
      .groupBy($"anchor_id")
      .agg(count($"event_id").as("n_events"),
        expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value"))
      .orderBy($"anchor_id")
  }

  /** Order-independent table checksum (data-integrity fingerprint for
    * replication / migration audits): per-row md5 over a canonical
    * column encoding, folded with a commutative SUM so the result is
    * identical under any partitioning or row order. Pure map + one
    * 3-row aggregate — the cheapest possible full-table audit at
    * 100 TB, and two sides of a copy can be compared without ever
    * co-locating them. */
  def q39Checksum(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("h", expr(
        """cast(conv(substring(md5(concat_ws('|',
          |  cast(l_orderkey as string), cast(l_linenumber as string),
          |  cast(l_partkey as string), cast(l_suppkey as string),
          |  l_returnflag, l_linestatus)), 1, 8), 16, 10) as bigint)""".stripMargin))
      .groupBy($"l_returnflag")
      // the checksum ring is EXPLICITLY modular (Mersenne 2^61−1):
      // a plain BIGINT sum of 2^32-scale digests is linear in rows and
      // silently wraps ~2·10^3× past the sf1 audit point (measured
      // growth exponent 1.0, tools/growth_exponents.py) — engines wrap
      // DIFFERENTLY (Spark non-ANSI wraps, DuckDB hugeint doesn't), so
      // the ring must be chosen, not inherited. The decimal(38,0)
      // internal sum is exact past 10^38 (~10^17 × a 100 TB corpus);
      // order-independence survives the mod.
      .agg(count(lit(1)).as("n_rows"),
        expr("cast(sum(cast(h as decimal(38,0))) % 2305843009213693951 as bigint)")
          .as("checksum"))
      .orderBy($"l_returnflag")

  /** Per-entity lag features (feature-engineering pass every ML event
    * pipeline runs): previous value, seconds since the previous event,
    * trailing-3 mean — all from ONE window partitioning on user_id, so
    * the whole feature set costs a single keyed shuffle + sort, which
    * is the minimum possible; at 100 TB the sort is per-partition and
    * spill-friendly. The trailing mean stays rational (exact decimal
    * sum / count, one final double division). */
  def q40LagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w3 = w.rowsBetween(-2, 0)
    Tables.events(spark, dir)
      .withColumn("v", expr("cast(value as decimal(18,2))"))
      .select($"event_id", $"user_id",
        $"v".cast("double").as("value"),
        lag($"v", 1).over(w).cast("double").as("prev_value"),
        (unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w))).as("gap_s"),
        (sum($"v").over(w3).cast("double") / count(lit(1)).over(w3)).as("avg3"))
      .orderBy($"user_id", $"event_id")
  }

  /** Column profiling (the stats every optimizer/data-catalog keeps:
    * null count, NDV, min/max per column), then the wide row is
    * unpivoted driver-free with stack(). The four exact NDVs are
    * deliberately NOT fused into one aggregate: multi-distinct in a
    * single agg plans an Expand that pushes scan_rows × (1+#distincts)
    * through one hash aggregate — the wrong shape for an ANALYZE pass
    * at 100 TB. Instead each NDV is its own two-phase distinct
    * aggregate (partial per-partition dedup, tiny final), the cheap
    * base stats are one plain scan, and the five single-row results
    * meet in broadcast joins. Wall-time = the slowest single NDV, not
    * 5× the scan through one stage. (For a non-gated profile at true
    * scale, `approx_count_distinct` drops even that — see q6b.) */
  def q41ColumnStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_returnflag", $"l_linestatus")
    val base = li.agg(
      count(lit(1)).as("n"),
      sum(expr("if(l_orderkey is null, 1, 0)")).as("null_ok"),
      expr("cast(min(l_orderkey) as string)").as("min_ok"),
      expr("cast(max(l_orderkey) as string)").as("max_ok"),
      sum(expr("if(l_partkey is null, 1, 0)")).as("null_pk"),
      expr("cast(min(l_partkey) as string)").as("min_pk"),
      expr("cast(max(l_partkey) as string)").as("max_pk"),
      sum(expr("if(l_returnflag is null, 1, 0)")).as("null_rf"),
      expr("min(l_returnflag)").as("min_rf"),
      expr("max(l_returnflag)").as("max_rf"),
      sum(expr("if(l_linestatus is null, 1, 0)")).as("null_ls"),
      expr("min(l_linestatus)").as("min_ls"),
      expr("max(l_linestatus)").as("max_ls"))
    val ndv = Seq("l_orderkey" -> "ndv_ok", "l_partkey" -> "ndv_pk",
      "l_returnflag" -> "ndv_rf", "l_linestatus" -> "ndv_ls")
      .map { case (c, a) => li.agg(countDistinct(col(c)).as(a)) }
      .reduce(_.crossJoin(_))
    base.crossJoin(ndv)
      .selectExpr(
        """stack(4,
          | 'l_orderkey',  n, null_ok, ndv_ok, min_ok, max_ok,
          | 'l_partkey',   n, null_pk, ndv_pk, min_pk, max_pk,
          | 'l_returnflag',n, null_rf, ndv_rf, min_rf, max_rf,
          | 'l_linestatus',n, null_ls, ndv_ls, min_ls, max_ls)
          | AS (column, n_rows, n_null, ndv, min_s, max_s)""".stripMargin)
      .orderBy($"column")
  }

  /** Skew-salted dimension join surfaced as a gated query: revenue per
    * brand through JoinOps.saltedJoin, which spreads each (possibly
    * power-law) part key over 8 salt buckets and replicates the dim
    * side 8×. The oracle is the PLAIN join — proving the salting is
    * result-invariant, which is the whole point of the utility. */
  def q42SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_orderkey", $"l_linenumber",
        expr("cast(l_extendedprice as decimal(18,2))").as("px"),
        expr("cast(l_discount as decimal(18,2))").as("dx"))
    val part = Tables.part(spark, dir)
      .select($"p_partkey".as("l_partkey"), $"p_brand")
    graft.functions.JoinOps
      .saltedJoin(li, part, "l_partkey", 8,
        concat_ws("#", $"l_orderkey", $"l_linenumber"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(px * (1 - dx)) as double)").as("revenue"))
      .orderBy($"p_brand")
  }

  /** Ordered funnel (signup → click → purchase): stage timestamps are
    * computed sequentially — first signup, first click AFTER that
    * signup, first purchase AFTER that click — so a user who clicked
    * before signing up does not count as converted. Three aggregates
    * all keyed on user_id: the first shuffle establishes the
    * partitioning and the two follow-up joins are co-partitioned
    * (no extra exchange of the big side at scale). */
  def q43Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val t1 = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("t_signup"))
    val t2 = e.join(t1, "user_id")
      .filter($"event_type" === "click" && $"ts" > $"t_signup")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val t3 = e.join(t2, "user_id")
      .filter($"event_type" === "purchase" && $"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .select($"user_id", $"t_signup", $"t_click", $"t_purchase",
        (lit(1) + when($"t_click".isNotNull, 1).otherwise(0)
          + when($"t_purchase".isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy($"user_id")
  }

  /** Argmax aggregation (max_by): per nation, the customer holding the
    * top account balance — the "which row set the max" question that
    * otherwise costs a self-join or a window. One broadcast dim join +
    * one aggregate; max_by's tie-break is made deterministic by
    * ordering on (balance, custkey), so replicas of a 100 TB job agree
    * bit-for-bit. */
  def q44Argmax(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"),
        max($"c_acctbal").as("max_bal"),
        expr("max_by(c_name, struct(c_acctbal, c_custkey))").as("top_customer"))
      .orderBy($"n_name")

  /** Trailing 7-day distinct users per day (the rolling-MAU/DAU family
    * of metrics). A sliding DISTINCT cannot ride a window frame, so
    * each event is expanded into the <=7 report days it contributes to
    * (Generate, map-side) and one (day, user) aggregate finishes the
    * job — the scalable formulation; the naive days×events range join
    * degenerates to a broadcast nested loop at 100 TB. Report days are
    * restricted to days that actually occur via a broadcast semi-join. */
  def q45SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(to_date($"ts").as("event_day"), $"user_id")
    val days = e.select($"event_day".as("day")).distinct()
    e.select(explode(expr("sequence(event_day, date_add(event_day, 6))")).as("day"),
        $"user_id")
      .join(broadcast(days), "day") // only days that exist in the data
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("u7"))
      .orderBy($"day")
  }

  /** Time-series gap fill + forward fill: per-user daily event counts
    * resampled onto a dense day grid (missing days appear with n=0)
    * and the last seen event_type carried forward. The day grid is
    * generated per user from its own [min, max] span (sequence +
    * explode — distributed, no driver loop); daily counts and the
    * span aggregate share the user-keyed shuffle, and the grid join
    * is co-partitioned on (user, day). Forward fill is
    * last(ignoreNulls) over the user window — one extra sort within
    * the already-shuffled partitions, no new exchange. */
  def q46GapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"), $"event_type", $"ts", $"event_id")
    // tie-break on event_id: equal-timestamp events in a user-day would
    // otherwise make last_type engine-nondeterministic (q44's pattern)
    val daily = e.groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n"),
        expr("max_by(event_type, struct(ts, event_id))").as("last_type"))
    val grid = e.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce($"n", lit(0L)).as("n_events"),
        last($"last_type", ignoreNulls = true).over(w).as("carried_type"))
      .orderBy($"user_id", $"day")
  }

  /** Distribution-position windows: percent_rank and cume_dist of each
    * customer's balance within its nation — the feature-scaling /
    * outlier-screen pass. One window shuffle keyed on the nation;
    * both functions ride the same sort. Doubles rounded at the edge. */
  def q47CumeDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal", $"c_custkey")
    // emitted UNROUNDED: both engines divide the same integers once
    // (IEEE-identical), while round-to-6 genuinely ties — (rank−1)/(n−1)
    // = 41/640 = 0.0640625 exactly, and the two engines' rounding split
    // it (caught by a local sf0.1 oracle run; n−1 with factor-5
    // denominators makes the tie real, same class as the EMA divisor)
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal",
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy($"c_custkey")
  }

  /** Rolling exact median: 7-row sliding median of daily revenue per
    * supplier-nation (the robust trend line a dashboarding layer
    * draws). Revenue is kept in integer CENTS so the median's
    * midpoint interpolation (avg of two values on even counts) is
    * exact in both engines — integers and half-integers are exact in
    * double, sidestepping the a+g·(b−a) vs (a+b)/2 ulp divergence.
    * The window is keyed on the nation so the sort is partition-
    * local; daily revenue is a partial-aggregated shuffle first. */
  def q49RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey", to_date($"l_shipdate").as("day"))
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * 100) as bigint)")
        .as("rev_cents"))
    val w = Window.partitionBy($"s_nationkey").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    li.select($"s_nationkey", $"day", $"rev_cents",
        expr("percentile(rev_cents, 0.5)").over(w).as("med7_cents"))
      .orderBy($"s_nationkey", $"day")
  }

  /** First-order Markov transitions over the event stream: P(next
    * event_type | current) per user journey. lead() over the user
    * window (deterministic tie-break on event_id), then transition
    * counts and row-normalized probabilities — the path-analysis /
    * next-action-model input. One window shuffle on user, one tiny
    * aggregate on the 5×5 state space. */
  def q56Markov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(spark, dir)
      .select($"user_id", $"event_type".as("from_state"),
        lead($"event_type", 1).over(w).as("to_state"))
      .filter($"to_state".isNotNull)
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy($"from_state")
    trans.select($"from_state", $"to_state", $"n",
        ($"n" / sum($"n").over(wTot)).as("p"))
      .orderBy($"from_state", $"to_state")
  }

  /** Data-quality audit (the Deequ-style constraint pass a lakehouse
    * runs before publishing a table): row counts, key uniqueness,
    * referential integrity (orphan FKs via anti-join), and domain
    * checks, emitted as one (check, subject, value) metric table.
    * Each check is an independent aggregate/anti-join over the
    * pruned key columns only — at 100 TB every probe is a
    * column-pruned scan + partial agg; none of them carries payload
    * rows, and the union glues single-row frames. */
  def q50DqAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val part = Tables.part(spark, dir)
    def metric(check: String, subject: String, v: org.apache.spark.sql.Column,
        df: DataFrame): DataFrame =
      df.agg(v.cast("bigint").as("value"))
        .select(lit(check).as("check"), lit(subject).as("subject"), $"value")
    val orphans = li.select($"l_orderkey")
      .join(ord.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
    val dupParts = part.groupBy($"p_partkey").count().filter($"count" > 1)
    metric("row_count", "lineitem", count(lit(1)), li)
      .unionAll(metric("row_count", "orders", count(lit(1)), ord))
      .unionAll(metric("pk_duplicates", "part", count(lit(1)), dupParts))
      .unionAll(metric("fk_orphans", "lineitem->orders", count(lit(1)), orphans))
      .unionAll(metric("null_count", "customer.c_mktsegment",
        sum(expr("if(c_mktsegment is null, 1, 0)")), cust))
      .unionAll(metric("domain_violations", "customer.c_acctbal<0",
        sum(expr("if(c_acctbal < 0, 1, 0)")), cust))
      .unionAll(metric("distinct_keys", "orders.o_orderkey",
        countDistinct($"o_orderkey"), ord))
      .orderBy($"check", $"subject")
  }

  /** SCD2 dimension build + as-of snapshot from the event stream:
    * consecutive same-state events collapse (lag), survivors get
    * validity intervals [valid_from, valid_to) (lead), and the
    * snapshot row for 2024-01-15 is flagged. Both windows share ONE
    * user-keyed shuffle/sort — the classic
    * change-data-capture → slowly-changing-dimension pass. */
  def q51Scd2(spark: SparkSession, dir: String): DataFrame = {
    val snap = lit("2024-01-15 00:00:00").cast("timestamp")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type".as("state"), $"ts", $"event_id")
      .withColumn("prev_state", lag($"state", 1).over(w))
      .filter($"prev_state".isNull || $"prev_state" =!= $"state")
      .withColumn("valid_from", $"ts")
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .withColumn("is_snapshot",
        ($"valid_from" <= snap &&
          ($"valid_to".isNull || $"valid_to" > snap)).cast("int"))
      .select($"user_id", $"state", $"valid_from", $"valid_to", $"is_snapshot")
      .orderBy($"user_id", $"valid_from")
  }

  /** Market-basket co-purchase counts: part pairs appearing in the
    * same order, top-50 by support. The pair expansion happens
    * bucket-locally (collect_set per order, then pair-explode — the
    * same no-self-join shape as LSH banding), so the shuffle carries
    * one row per order, not per pair, and the per-order pair count
    * is bounded by basket size squared (baskets are ≤7 items in
    * TPC-H shape; a retail feed caps similarly). TakeOrdered gives
    * the top-k without a global sort. */
  def q55Copurchase(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("parts"))
      .filter(size($"parts") > 1)
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> transform(slice(parts, i + 2, size(parts) - i - 1), y -> named_struct('part_a', x, 'part_b', y))))")).as("p"))
      .groupBy($"p.part_a", $"p.part_b")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(k)

  /** Range-band join: quantities joined to a banded tier dimension on
    * an interval condition (lo <= qty < hi) — the "range join" shape
    * (price tiers, age bands, SLA buckets). The tier table is tiny ⇒
    * broadcast nested-loop with the band predicate; the fact side
    * never shuffles for the join, and the revenue rollup is one
    * partial-aggregated exchange on 3 groups. */
  def q52RangeBandJoin(spark: SparkSession, dir: String): DataFrame = {
    val tiers = spark
      .createDataFrame(Seq(("low", 0, 15), ("mid", 15, 35), ("high", 35, 51)))
      .toDF("tier", "lo", "hi")
    val li = Tables.lineitem(spark, dir)
    li.join(broadcast(tiers),
        li("l_quantity") >= tiers("lo") && li("l_quantity") < tiers("hi"))
      .groupBy($"tier")
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").as("revenue"))
      .orderBy($"tier")
  }

  /** The co-purchase graph both graph operators run on: undirected
    * edges (a<b) between parts bought together in ≥2 orders. The
    * min-support cut is the standard market-basket densifier-killer:
    * the raw pair graph is quadratic-dense (every one-off basket
    * contributes C(7,2) incidental pairs — 1.2M edges / 148M wedges
    * at sf0.1), while support ≥2 keeps the edges that carry signal
    * and bounds the wedge space. Pair counting happens bucket-locally
    * (per-order expansion, partial-aggregated), never via self-join. */
  private def buildCopurchaseEdges(spark: SparkSession, dir: String,
      minSupport: Int): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("parts"))
      .filter(size($"parts") > 1)
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> transform(slice(parts, i + 2, size(parts) - i - 1), y -> named_struct('a', x, 'b', y))))")).as("p"))
      .groupBy($"p.a", $"p.b")
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= minSupport)
      .select($"a", $"b")

  /** Snapshot store for shared derived edge tables: (dir, tag) →
    * (corpus fingerprint, parquet path). SEVEN gated consumers
    * (q57/q58/q123/q126/q130/q139/q168) sit on the same basket
    * expansion (~2 s/call at sf0.1), and q177's bipartite
    * customer→part list is read three times inside ONE query;
    * materializing each ONCE per corpus snapshot to a parquet table
    * refunds the rebuild without touching the no-leaked-cache
    * discipline — no executor cache blocks exist, the Round4OpsSpec
    * probe stays exactly green. This is also the 100 TB shape (the
    * TextOps round-1 note, proven again here): a shared derived table
    * belongs in the lake, not in executor memory where it squats
    * across unrelated queries. The fingerprint keys the snapshot
    * (same path, different data → rebuild + old files deleted); one
    * entry per (dir, tag) bounds the store. Each entry keeps the built
    * frame's schema, so a read-back infers nothing. A build runs under
    * its key's own lock, so concurrent callers of one key share one
    * build while other keys read on; a failed build deletes its
    * directory and leaves no entry. */
  private final case class Snapshot(fingerprint: String, path: String,
      schema: org.apache.spark.sql.types.StructType)

  private val edgeSnapshots = scala.collection.concurrent.TrieMap
    .empty[(String, String), Snapshot]
  private val snapshotLocks = scala.collection.concurrent.TrieMap
    .empty[(String, String), Object]

  private def edgeSnapshotEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.graph.edgeSnapshot").forall(_.trim.toBoolean)

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Test hook / explicit release: delete every materialized edge
    * snapshot and forget the store. */
  private[graft] def releaseEdgeSnapshots(spark: SparkSession): Unit = {
    edgeSnapshots.values.foreach(s => deletePath(spark, s.path))
    edgeSnapshots.clear()
  }

  /** Materialize-once-per-corpus-snapshot for a derived table `tag`
    * under `dir`: parquet-backed, fingerprint-invalidated, disabled by
    * the same conf flag as the copurchase store. */
  private[operators] def snapshotTable(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    if (!edgeSnapshotEnabled(spark)) return build
    val fp = Tables.snapshotFingerprint(spark, dir)
    val key = (dir, tag)
    val snap = snapshotLocks.getOrElseUpdate(key, new Object).synchronized {
      edgeSnapshots.get(key) match {
        case Some(s) if s.fingerprint == fp => s
        case prev =>
          val p = java.nio.file.Files.createTempDirectory("graft_edges_").toString
          val built = try {
            val df = build
            df.write.mode("overwrite").parquet(p)
            Snapshot(fp, p, df.schema)
          } catch { case e: Throwable => deletePath(spark, p); throw e }
          prev.foreach(s => deletePath(spark, s.path))
          edgeSnapshots.put(key, built)
          built
      }
    }
    spark.read.schema(snap.schema).parquet(snap.path)
  }

  private def copurchaseEdges(spark: SparkSession, dir: String,
      minSupport: Int = 2): DataFrame =
    snapshotTable(spark, dir, s"copurchase_$minSupport")(
      buildCopurchaseEdges(spark, dir, minSupport))

  /** Materialize a provably-bounded final result (a few-row metric
    * union, a per-hop count table), then
    * unpersist the intermediate caches it was built from. A
    * DataFrame-returning API must not leak session-lifetime cached
    * blocks: without this, every call left the edge cache in the
    * block manager until session end, squatting on executor memory
    * for all later queries in a long session. The returned frame is
    * a LocalRelation over the collected rows — legitimate here
    * because the result cardinality is bounded by construction
    * (≤ a few dozen rows regardless of input scale). */
  private[operators] def materializeAndRelease(
      spark: SparkSession, result: DataFrame,
      caches: org.apache.spark.sql.Dataset[_]*): DataFrame = {
    // dev-only plan evidence hook (graft.PlanDump): the returned frame
    // is a LocalRelation by design, so the REAL pipeline plan is only
    // visible here, pre-collect. One-shot property, set per query.
    Option(System.getProperty("graft.explain.inner")).foreach { p =>
      System.clearProperty("graft.explain.inner")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        result.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val rows = result.collect()
    caches.foreach(_.unpersist(blocking = true))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** PageRank (3 unrolled iterations, damping 0.85) over the
    * co-purchase graph — the iterative-graph-processing exemplar.
    * Edges are built bucket-locally (per-order pair expansion, no
    * self-join) and the degree table joins in once; each iteration is
    * one edge⋈rank join + one dst-keyed aggregate, both hashing on
    * the SAME node key, so at 100 TB an explicit pre-partitioning of
    * edges by src makes every iteration co-partitioned (AQE reuses
    * the exchange here). Contributions are rounded then summed as
    * DECIMAL — partition-order-independent, so ranks are bit-stable
    * across any cluster layout. Unnormalized formulation
    * (pr = 0.15 + 0.85·Σ pr/deg): no global-N division needed. */
  def q57Pagerank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    // the edge list comes from the snapshot store, so each iteration
    // re-reads its parquet instead of re-deriving the basket expansion
    val ed = edges.join(deg, "src")
    var pr = deg.select($"src".as("node"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      pr = ed.join(pr, $"src" === $"node")
        .groupBy($"dst")
        .agg(expr("cast(sum(cast(round(pr / deg, 12) as decimal(30,12))) as double)").as("s"))
        .select($"dst".as("node"), round(lit(0.15) + lit(0.85) * $"s", 12).as("pr"))
    }
    pr.select($"node", $"pr").orderBy($"pr".desc, $"node").limit(25)
  }

  /** Retention cohort matrix: users grouped by first-activity week,
    * tracked over week offsets — the product-analytics staple. Two
    * aggregates share the user-keyed shuffle (first-day, then
    * distinct user-week activity); the cohort-size join is a tiny
    * broadcast. Week arithmetic is integer day math (exact). */
  def q59Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
    val first = e.groupBy($"user_id")
      .agg(to_date(date_trunc("week", min($"day"))).as("cohort_week"))
    val sizes = first.groupBy($"cohort_week")
      .agg(countDistinct($"user_id").as("n_cohort"))
    e.join(first, "user_id")
      .select($"user_id", $"cohort_week",
        ((unix_date(to_date(date_trunc("week", $"day"))) -
          unix_date($"cohort_week")) / 7).cast("bigint").as("week_offset"))
      .distinct()
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select($"cohort_week", $"week_offset", $"n_active", $"n_cohort",
        // UNROUNDED int ratio: identical bits in both engines; round-6
        // genuinely ties when the reduced denominator terminates at
        // exactly 7 decimals (the q47 percent_rank class)
        ($"n_active" / $"n_cohort").as("retention"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands pattern (day − row_number is constant within a
    * run). One user-keyed window + one aggregate, all integer
    * arithmetic; the islands never leave their partition. */
  def q61Streaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"day")
    Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("island", unix_date($"day") - row_number().over(w))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(max($"len").as("longest_streak"), sum($"len").as("n_active_days"))
      .orderBy($"user_id")
  }

  /** Top-K per group through the custom physical operator
    * (TopKPerGroupPlan/Exec: partial bounded heaps before the
    * shuffle, final heaps after — the exchange carries ≤ P·G·k rows
    * instead of every group member, unlike the window formulation
    * which sorts whole groups). Gated against the window-formulation
    * oracle: result-identity IS the operator's correctness claim. */
  def q63TopkPerGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    org.apache.spark.sql.graft.TopK.perGroup(
      Tables.orders(spark, dir)
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice"),
      Seq("o_orderpriority"),
      Seq(("o_totalprice", true), ("o_orderkey", false)), k)
      .orderBy($"o_orderpriority", $"o_totalprice".desc, $"o_orderkey")

  /** Graph metrics over the co-purchase graph: edges, wedges (paths
    * of length 2), triangles, and the global clustering coefficient.
    * Triangle counting uses the ordered-edge join (a<b<c: each
    * triangle counted exactly once) — the standard distributed
    * algorithm; wedges are Σ deg·(deg−1)/2, pure integer arithmetic.
    *
    * `degreeCap` (default off) is the skew guard for power-law
    * graphs: one hub node of degree d contributes O(d²) wedge-join
    * candidates inside a single task, so at 100 TB a super-hub makes
    * the ab⋈bc join quadratic in its degree. With the cap set, nodes
    * whose degree exceeds it are dropped from the graph before any
    * metric is computed (the capped graph IS the analyzed graph —
    * standard practice in triangle counting on social graphs; hub
    * triangles are deliberately sacrificed for a bounded task size).
    * Same pattern as the shipped LSH bucket cap: default-off, with a
    * result-invariance spec proving a cap above the observed max
    * degree leaves every metric bit-identical. */
  def q58Triangles(spark: SparkSession, dir: String,
      degreeCap: Option[Int] = None): DataFrame = {
    val rawPairs = copurchaseEdges(spark, dir)
    val capped = degreeCap match {
      case None => rawPairs
      case Some(cap) =>
        // super-hub set is tiny by definition → broadcast anti joins;
        // degree here is over the RAW graph (the cap criterion),
        // metrics below recompute degree over the capped graph
        val hubs = rawPairs.select($"a".as("n")).unionAll(rawPairs.select($"b".as("n")))
          .groupBy($"n").agg(count(lit(1)).as("d"))
          .filter($"d" > cap).select($"n")
        val hubs2 = hubs.select($"n".as("n2")) // fresh attrs for the 2nd anti join
        rawPairs
          .join(broadcast(hubs), rawPairs("a") === hubs("n"), "left_anti")
          .join(broadcast(hubs2), rawPairs("b") === hubs2("n2"), "left_anti")
    }
    // consumed 5x below (edge count, degree, three triangle-join legs):
    // materialize once rather than re-deriving the basket expansion
    val pairs = capped
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = pairs.agg(count(lit(1)).as("v"))
      .select(lit("n_edges").as("metric"), $"v".cast("double").as("value"))
    val deg = pairs.select($"a".as("n")).unionAll(pairs.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val nWedges = deg.agg(sum(expr("d * (d - 1) / 2")).as("w"))
    val tri = pairs.as("ab")
      .join(pairs.as("bc"), col("ab.b") === col("bc.a"))
      .join(pairs.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("t"))
    val triW = tri.crossJoin(nWedges)
    materializeAndRelease(spark,
      nEdges
        .unionAll(triW.select(lit("n_triangles").as("metric"), $"t".cast("double").as("value")))
        .unionAll(triW.select(lit("n_wedges").as("metric"), $"w".cast("double").as("value")))
        .unionAll(triW.select(lit("clustering_coeff").as("metric"),
          (lit(3.0) * $"t" / $"w").as("value")))
        .orderBy($"metric"),
      pairs)
  }

  /** Two-sample proportion test (the A/B-test readout): users split
    * deterministically by id parity, conversion = any purchase event,
    * pooled z-statistic. sqrt is IEEE-correctly-rounded (identical in
    * every engine — unlike ln/exp it is safe for parity), the rest is
    * double division of exact counts. One user-keyed aggregate, one
    * single-row join: the readout costs one pass regardless of
    * scale. */
  def q62AbTest(spark: SparkSession, dir: String): DataFrame = {
    // conversion = heavy purchaser (>=14 purchase events: the per-user
    // purchase count centers near 13 at every SF, so both outcomes
    // occur and p·(1-p) is never 0)
    val conv = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg((sum(when($"event_type" === "purchase", 1).otherwise(0)) >= 14)
        .cast("int").as("converted"))
      .groupBy(($"user_id" % 2).cast("int").as("arm"))
      .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_conv"))
    conv.groupBy()
      .agg(
        sum(when($"arm" === 0, $"n_users")).as("n0"),
        sum(when($"arm" === 0, $"n_conv")).as("c0"),
        sum(when($"arm" === 1, $"n_users")).as("n1"),
        sum(when($"arm" === 1, $"n_conv")).as("c1"))
      .select($"n0", $"c0", $"n1", $"c1",
        // UNROUNDED: int ratios and the fixed-order IEEE z chain are
        // bit-identical across engines; round-6 is the only tie risk
        ($"c0" / $"n0").as("p0"),
        ($"c1" / $"n1").as("p1"),
        (($"c0" / $"n0" - $"c1" / $"n1") /
          sqrt((($"c0" + $"c1") / ($"n0" + $"n1")) *
            (lit(1.0) - ($"c0" + $"c1") / ($"n0" + $"n1")) *
            (lit(1.0) / $"n0" + lit(1.0) / $"n1"))).as("z"))
  }

  /** Interval merge (overlap coalescing): each event opens a 5-minute
    * span; overlapping/adjacent spans per user merge into maximal
    * intervals — the availability-window / on-call-coverage op. The
    * island id is "number of span starts that begin after the running
    * max end so far" (a single cumulative window), so merging is one
    * user-keyed window + one aggregate — no self-join, no iteration,
    * and the islands never leave their partition at any scale. */
  def q64IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"start_ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts".as("start_ts"),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("end_ts"))
      .withColumn("max_end_before",
        max($"end_ts").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        ($"max_end_before".isNull || $"start_ts" > $"max_end_before").cast("int"))
      .withColumn("island",
        sum($"new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"island")
      .agg(min($"start_ts").as("span_start"), max($"end_ts").as("span_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"island".cast("bigint").as("island"),
        $"span_start", $"span_end", $"n_events")
      .orderBy($"user_id", $"island")
  }

  /** Event debounce: drop events that fire within 30 s of the
    * previous SAME-TYPE event for the user (telemetry double-fire
    * suppression). One (user, type)-keyed window; the filter is a
    * lag comparison — map-side after the single shuffle. Note the
    * semantics are lag-based (vs previous RAW event), the cheap
    * O(1)-state form a streaming pipeline can also apply. */
  def q65Debounce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      // microsecond-exact gap test (whole-second truncation would
      // disagree with the oracle on fractional gaps)
      .filter($"prev_ts".isNull ||
        unix_micros($"ts") - unix_micros($"prev_ts") > 30000000L)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy($"user_id", $"event_type")
  }

  /** Gini coefficient of customer balance per nation — the inequality
    * metric, computed by the rank formula
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over ascending-sorted
    * values. Balances are integer CENTS, so every sum is exact bigint
    * arithmetic and the one double division happens at the edge —
    * bit-stable under any partitioning. Nations are a FIXED 25 keys,
    * so the rank comes from the distributed prefix sum (count of
    * strictly-smaller rows + 1) instead of a 25-task serial window. */
  def q66Gini(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select($"c_nationkey",
        expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)").as("cents"),
        $"c_custkey")
      .withColumn("one", lit(1L))
    CorpusPipeline.prefixSumExclusive(c, "c_nationkey",
        Seq($"cents", $"c_custkey"), "one", "r0",
        CorpusPipeline.equiWidthBucket(c, "cents"))
      .withColumn("i", $"r0" + 1)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum($"cents").as("sx"),
        sum($"i" * $"cents").as("six"))
      .filter($"sx" =!= 0)
      .select($"c_nationkey", $"n",
        round(($"six" * 2 - ($"n" + 1) * $"sx") / ($"n" * $"sx"), 6).as("gini"))
      .orderBy($"c_nationkey")
  }

  /** ABC (Pareto) classification: parts ranked by revenue, classed A
    * while cumulative share ≤ 80 %, B ≤ 95 %, else C. The share
    * thresholds are INTEGER tests on exact cent sums (5·cum ≤ 4·total
    * ⇔ share ≤ 0.8) — no float boundary can disagree with the
    * oracle. The cumulative sum is NOT a global un-partitioned window
    * (single task over every part at scale): the total order
    * (rev desc, partkey) is decomposed by a revenue band — band
    * totals make a tiny exclusive-cumsum table that broadcasts back,
    * and the within-band window is properly partitioned. Same
    * decomposition as txtVocab's id assignment; bit-identical to the
    * global window by monotonicity of the banding. */
  def q67AbcClass(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * 100) as bigint)")
        .as("rev_cents"))
      .withColumn("band", floor($"rev_cents" / 100000L))
    val bandOffsets = byPart.groupBy($"band")
      .agg(sum($"rev_cents").as("band_cents"))
      .withColumn("band_offset",
        coalesce(sum($"band_cents").over(
          Window.orderBy($"band".desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"band", $"band_offset")
    val total = byPart.agg(sum($"rev_cents").as("total_cents"))
    val wBand = Window.partitionBy($"band")
      .orderBy($"rev_cents".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, 0)
    byPart.join(broadcast(bandOffsets), "band")
      .crossJoin(broadcast(total))
      .withColumn("cum_cents", $"band_offset" + sum($"rev_cents").over(wBand))
      .select($"l_partkey", $"rev_cents",
        round($"cum_cents" / $"total_cents", 6).as("cum_share"),
        when($"cum_cents" * 5 <= $"total_cents" * 4, "A")
          .when($"cum_cents" * 20 <= $"total_cents" * 19, "B")
          .otherwise("C").as("abc"))
      .orderBy($"rev_cents".desc, $"l_partkey")
      .limit(100)
  }

  /** Benford first-digit audit of order totals — the forensic DQ
    * screen. First digit comes from the decimal-cents integer's
    * string head (identical in every engine for positive ints);
    * expected Benford mass is a literal constant table (no runtime
    * log). One tiny aggregate over a projected digit — at 100 TB
    * this is a single scan with a 9-group combine. */
  def q68Benford(spark: SparkSession, dir: String): DataFrame = {
    val benford = Map(1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939,
      4 -> 0.09691, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
      8 -> 0.051153, 9 -> 0.045757)
    val bf = spark.createDataFrame(benford.toSeq.sortBy(_._1))
      .toDF("digit", "benford_p")
    val obs = Tables.orders(spark, dir)
      .select(expr(
        "cast(substring(cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string), 1, 1) as int)")
        .as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val total = obs.agg(sum($"n").as("t"))
    obs.join(broadcast(bf), Seq("digit"))
      .crossJoin(broadcast(total))
      .select($"digit", $"n",
        ($"n" / $"t").as("observed_p"),
        $"benford_p",
        abs($"n" / $"t" - $"benford_p").as("abs_dev"))
      .orderBy($"digit")
  }

  /** Chi-square contingency test: event_type × user-id-parity segment
    * independence (the feature-vs-outcome dependence screen). Observed
    * counts are one tiny aggregate; expected = row·col/total and the
    * χ² term are double arithmetic over exact integers (deterministic
    * in any engine). The contingency table is |types|×2 — at 100 TB
    * the only big work is the one partial-aggregated count pass. */
  def q69Chi2(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(spark, dir)
      .groupBy($"event_type", ($"user_id" % 2).cast("int").as("segment"))
      .agg(count(lit(1)).as("n"))
    val rowT = obs.groupBy($"event_type").agg(sum($"n").as("row_n"))
    val colT = obs.groupBy($"segment").agg(sum($"n").as("col_n"))
    val tot = obs.agg(sum($"n").as("total_n"))
    obs.join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "segment")
      .crossJoin(broadcast(tot))
      .withColumn("expected", $"row_n" * $"col_n" / $"total_n")
      .select($"event_type", $"segment", $"n",
        round($"expected", 6).as("expected"),
        round(($"n" - $"expected") * ($"n" - $"expected") / $"expected", 6)
          .as("chi2_term"))
      .orderBy($"event_type", $"segment")
  }

  /** Share-of-parent rollup: each nation's revenue as a fraction of
    * its region's (the drill-down ratio every OLAP UI shows). Child
    * and parent totals come from ONE aggregate — the parent is a
    * re-aggregation of the already-tiny child table, joined back
    * broadcast — so the fact table is scanned once, and the ratio is
    * double division of exact decimal sums. */
  def q71ShareOfParent(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2)) * 100) as bigint)")
        .as("nation_cents"))
    val byRegion = byNation.groupBy($"r_name")
      .agg(sum($"nation_cents").as("region_cents"))
    byNation.join(broadcast(byRegion), "r_name")
      .select($"r_name", $"n_name",
        expr("cast(nation_cents as double) / 100").as("nation_revenue"),
        round($"nation_cents" / $"region_cents", 6).as("share_of_region"))
      .orderBy($"r_name", $"n_name")
  }

  /** Year-over-year growth: monthly order revenue joined to the same
    * month one year earlier via a 12-row lag window per month-of-year
    * — the time-intelligence staple. The monthly table is tiny after
    * the one partial-aggregated scan; growth is double division of
    * exact cent sums (null for the first year, like every YoY
    * readout). */
  def q72YoY(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2)) * 100) as bigint)")
        .as("rev_cents"))
    val w = Window.partitionBy($"mo").orderBy($"yr")
    monthly
      .withColumn("prev_cents", lag($"rev_cents", 1).over(w))
      .withColumn("prev_yr", lag($"yr", 1).over(w))
      .withColumn("prev_cents",
        when($"prev_yr" === $"yr" - 1, $"prev_cents"))
      .select($"yr", $"mo", $"rev_cents",
        round(($"rev_cents" - $"prev_cents") / $"prev_cents", 6).as("yoy_growth"))
      .orderBy($"yr", $"mo")
  }

  /** Deterministic per-group reservoir: k events per user, selected
    * by md5-hash order — the reproducible group-downsampling pass
    * (uniform within group, stable across runs/engines/partitioning,
    * unlike rand()-based sampling). One group-keyed window; at scale
    * the same TopKPerGroup custom operator applies (bounded heaps,
    * no full-group sort) — the window form here is the oracle-twin
    * shape. */
  def q73Reservoir(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"h", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        md5(concat($"user_id".cast("string"), lit(":"),
          $"event_id".cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"user_id", $"rn".cast("bigint").as("rn"), $"event_id", $"event_type")
      .orderBy($"user_id", $"rn")
  }

  /** Per-group simple linear regression (extendedprice vs quantity per
    * return flag) from the closed-form normal equations over EXACT
    * decimal sums: the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    * Σy²) aggregate as decimals (partition-order independent), are
    * cast to double once, and slope/intercept/R² evaluate as one fixed
    * IEEE expression — bit-identical in any engine, unlike the
    * engines' own regr_* aggregates whose incremental (Welford-style)
    * updates are accumulation-order dependent. One partial-aggregated
    * shuffle on the group key; the stats are O(groups), never the
    * rows. */
  def q74Regression(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        expr("cast(l_quantity as decimal(18,2))").as("x"),
        expr("cast(l_extendedprice as decimal(18,2))").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(x) as double)").as("sx"),
        expr("cast(sum(y) as double)").as("sy"),
        expr("cast(sum(x * y) as double)").as("sxy"),
        expr("cast(sum(x * x) as double)").as("sxx"),
        expr("cast(sum(y * y) as double)").as("syy"))
      .select($"l_returnflag", $"n",
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("slope"),
        round(($"sy" * $"sxx" - $"sx" * $"sxy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("intercept"),
        round((($"n" * $"sxy" - $"sx" * $"sy") * ($"n" * $"sxy" - $"sx" * $"sy")) /
          (($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
      .orderBy($"l_returnflag")

  /** 7-point linear-weighted moving average (LWMA) of daily revenue
    * per order priority — the classic trend smoother. Revenue rides
    * as integer cents and the weights (7,6,…,1) are integers, so the
    * weighted sum is EXACT until the single final division — no
    * float-accumulation parity risk (the pow-weighted EMA variant
    * would hinge on libm pow). lag() keeps it one window sort; rows
    * without 7 days of history are excluded (the standard warm-up
    * cut). */
  def q75Wma(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val weighted = (0 to 6).map(j => lag($"cents", j).over(w) * lit(7 - j))
      .reduce(_ + _) // NULL while any lag is missing → warm-up rows drop
    daily
      .withColumn("wsum", weighted)
      .filter($"wsum".isNotNull)
      .select($"o_orderpriority", $"day", $"cents",
        round($"wsum" / lit(28.0), 6).as("wma7"))
      .orderBy($"o_orderpriority", $"day")
  }

  /** Gini impurity of each user's event-type mix (1 − Σ pᵢ²) — the
    * concentration/diversity readout over categorical activity.
    * Counts are integers, so (n² − Σc²)/n² is exact rational
    * arithmetic until the final division. Two aggregates sharing the
    * user-keyed shuffle. */
  def q76GiniImpurity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"),
        count(lit(1)).as("n_types"),
        sum($"c" * $"c").as("sc2"))
      .select($"user_id", $"n_events", $"n_types",
        (($"n_events" * $"n_events" - $"sc2") /
          ($"n_events" * $"n_events").cast("double")).as("impurity"))
      .orderBy($"user_id")

  /** Herfindahl–Hirschman concentration of order revenue across
    * customers within each nation (Σ shareᵢ² × 10000) — the market-
    * concentration audit. Revenue sums are exact decimals; each
    * share² is rounded to 12 dp and summed as DECIMAL so the total is
    * partition-order independent (a raw double Σ would vary in ulps
    * with the merge order). Customer revenue and the nation total
    * share one customer-keyed aggregate; the nation join is tiny. */
  def q77Hhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey", $"c_custkey")
      .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"))
    val nat = rev.groupBy($"c_nationkey")
      .agg(sum($"rev").as("nrev"), count(lit(1)).as("n_customers"))
    rev.join(broadcast(nat), "c_nationkey")
      .select($"c_nationkey", $"n_customers",
        // share² via explicit multiply: IEEE-exact in every engine
        // (pow(x, 2) is libm-dependent and not correctly rounded)
        expr("cast(round((cast(rev as double) / cast(nrev as double)) * (cast(rev as double) / cast(nrev as double)), 12) as decimal(20,12))").as("s2"))
      .groupBy($"c_nationkey", $"n_customers")
      // exact decimal Σ cast to double once, then one IEEE mult+round
      .agg(round(sum($"s2").cast("double") * 10000, 6).as("hhi"))
      .orderBy($"c_nationkey")
  }

  /** Bollinger bands: 20-point rolling mean ± 2σ of daily revenue per
    * priority. The rolling variance comes from exact integer/decimal
    * window sums (Σx, Σx² over the 20-row frame) through the textbook
    * (nΣx² − (Σx)²)/(n(n−1)) form — one fixed IEEE expression, not an
    * engine-internal incremental stddev, so both engines produce the
    * identical double before the final sqrt (correctly rounded by
    * IEEE). One window sort carries both sums. */
  def q79Bollinger(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day").rowsBetween(-19, 0)
    val wn = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily
      .withColumn("rn", row_number().over(wn))
      .withColumn("s1", sum($"cents").over(w))
      .withColumn("s2", sum(expr("cast(cents as decimal(19,0)) * cents")).over(w))
      .filter($"rn" >= 20)
      .select($"o_orderpriority", $"day", $"cents",
        round($"s1" / lit(20.0) / 100.0, 6).as("ma20"),
        round(($"s1" / lit(20.0) +
          lit(2.0) * sqrt((lit(20.0) * $"s2".cast("double") - $"s1".cast("double") * $"s1".cast("double")) / lit(380.0))) / 100.0, 6).as("upper"),
        round(($"s1" / lit(20.0) -
          lit(2.0) * sqrt((lit(20.0) * $"s2".cast("double") - $"s1".cast("double") * $"s1".cast("double")) / lit(380.0))) / 100.0, 6).as("lower"))
      .orderBy($"o_orderpriority", $"day")
  }

  /** Day-of-week seasonality profile: average daily revenue per
    * (nation, weekday) — the ops-dashboard staple. Daily sums are
    * exact decimals; the weekday average is one division at the edge.
    * Weekday is Sunday=0 (Spark dayofweek−1 == DuckDB dayofweek). */
  def q80DowProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"))
    daily
      .groupBy($"c_nationkey", (dayofweek($"day") - 1).cast("bigint").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        round(expr("cast(sum(rev) as double)") / count(lit(1)), 6).as("avg_daily_rev"))
      .orderBy($"c_nationkey", $"dow")
  }

  /** Winsorized mean of customer balances per nation: clip at the
    * exact p05/p95 (linear-interpolation percentiles, the same
    * machinery the gated q17 already proves engine-identical), round
    * the clipped values to 6 dp, and average as exact decimals so the
    * sum is partition-order independent. The robust-mean pass an
    * outlier-heavy feature pipeline runs. */
  def q83Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val pct = c.groupBy($"c_nationkey")
      .agg(expr("percentile(c_acctbal, 0.05)").as("p05"),
        expr("percentile(c_acctbal, 0.95)").as("p95"))
    c.join(broadcast(pct), "c_nationkey")
      .select($"c_nationkey",
        expr("cast(round(least(greatest(c_acctbal, p05), p95), 6) as decimal(24,6))").as("clipped"))
      .groupBy($"c_nationkey")
      // the mean is emitted UNROUNDED: the decimal Σ → double cast and
      // the /n division are correctly-rounded IEEE ops (bit-identical
      // in every engine), whereas a final round(…, 6) can land on a
      // .5 tie that Spark (shortest-decimal HALF_UP) and other engines
      // (binary-value rounding) resolve differently — observed on a
      // winsorized mean whose clipped values share the exact p05.
      .agg(count(lit(1)).as("n"),
        (expr("cast(sum(clipped) as double)") / count(lit(1))).as("winsorized_mean"))
      .orderBy($"c_nationkey")
  }

  /** Offline changepoint locator: the day of peak cumulative deviation
    * from the series mean, per priority (the max-|CUSUM| statistic).
    * The deviation is kept INTEGER throughout: n·Pᵢ − i·S (prefix sum
    * Pᵢ, total S, both exact cents) equals n·Σ(xⱼ−x̄) without ever
    * forming the fractional mean — no float accumulates across rows,
    * so the argmax day is engine-exact. One window cumsum over the
    * per-priority sort; the totals ride a broadcast join. */
  def q84Cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val tot = daily.groupBy($"o_orderpriority")
      .agg(sum($"cents").as("s"), count(lit(1)).as("n"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily.join(broadcast(tot), "o_orderpriority")
      .withColumn("p", sum($"cents").over(w))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("dev", $"n" * $"p" - $"i" * $"s") // n·Σ(x−x̄) scaled by n, exact
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n_days"),
        expr("max_by(day, struct(abs(dev), day))").as("peak_day"),
        round(max(abs($"dev")).cast("double") /
          max($"n").cast("double") / 100.0, 6).as("peak_cum_dev"))
      .orderBy($"o_orderpriority")
  }

  /** Lag-1 autocorrelation of daily revenue per priority — the
    * persistence/seasonality screen. Consecutive-day pairs come from
    * one lag window; the five sufficient sums aggregate as exact
    * decimals (cents are integers) and the Pearson formula evaluates
    * as one fixed IEEE expression, same determinism story as
    * [[q74Regression]]. */
  def q85Autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily
      .withColumn("nxt", lead($"cents", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(sum(cents) as double)").as("sx"),
        expr("cast(sum(nxt) as double)").as("sy"),
        expr("cast(sum(cast(cents as decimal(19,0)) * nxt) as double)").as("sxy"),
        expr("cast(sum(cast(cents as decimal(19,0)) * cents) as double)").as("sxx"),
        expr("cast(sum(cast(nxt as decimal(19,0)) * nxt) as double)").as("syy"))
      .select($"o_orderpriority", $"n_pairs",
        round(($"n_pairs" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n_pairs" * $"sxx" - $"sx" * $"sx") *
               ($"n_pairs" * $"syy" - $"sy" * $"sy")), 6).as("autocorr_lag1"))
      .orderBy($"o_orderpriority")
  }

  /** Pareto front (skyline) per nation over (acctbal, order count):
    * customers not dominated by anyone with higher balance AND more
    * orders. Formulated as left-to-right maxima over the
    * (acctbal DESC, custkey) sort — a customer survives iff its order
    * count strictly exceeds the running max of everyone sorted before
    * it — which is one window pass per nation, no pairwise self-join
    * (the naive dominance join is O(n²) per nation). Tie semantics
    * are part of the operator contract: equal balances compare in
    * custkey order. Nations are a FIXED 25 keys, so the running max
    * rides the distributed prefix-max (floor-bucketed balance bands)
    * rather than a 25-task serial window. */
  def q86Skyline(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
    val joined = Tables.customer(spark, dir)
      .join(cnt, $"c_custkey" === $"o_custkey", "left")
      .select($"c_nationkey", $"c_custkey", $"c_acctbal",
        coalesce($"n_orders", lit(0L)).as("n_orders"))
    // monotone along (acctbal DESC): −floor(bal/256) — floor (not cast)
    // so negative balances band monotonically too
    CorpusPipeline.prefixMaxExclusive(joined, "c_nationkey",
        Seq($"c_acctbal".desc, $"c_custkey"), "n_orders", "prev_max",
        expr("cast(-floor(c_acctbal / 256) as bigint)"))
      .filter($"prev_max".isNull || $"n_orders" > $"prev_max")
      .select($"c_nationkey", $"c_custkey", $"c_acctbal", $"n_orders")
      .orderBy($"c_nationkey", $"c_custkey")
  }

  /** Median inter-order gap per repeat customer — the
    * purchase-cadence feature (churn models key on it). Gaps are
    * integer day differences from one lag window; the median is the
    * exact percentile whose even-count midpoint lands on halves
    * (exact in double), the same parity-safe shape as the gated
    * rolling median. One customer-keyed window + one aggregate. */
  def q87MedianGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"day", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", to_date($"o_orderdate").as("day"), $"o_orderkey")
      .withColumn("gap", unix_date($"day") -
        unix_date(lag($"day", 1).over(w)))
      .filter($"gap".isNotNull)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap, 0.5)").as("median_gap_days"),
        max($"gap").cast("bigint").as("max_gap_days"))
      .orderBy($"o_custkey")
  }

  // Spark 2.13 shorthand for col("...") used above
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
  /** RFM segmentation (recency / frequency / monetary quintiles per
    * customer) — the marketing-analytics staple. Scores come from
    * exact-percentile BOUNDARIES broadcast back and assigned by
    * map-side comparison (1 + Σ [x > bᵢ]) — NOT a global ntile window,
    * which would serialize every customer through one partition at
    * 100 TB. Recency/frequency are integers; monetary compares as a
    * correctly-rounded double of an exact decimal — all boundary
    * comparisons engine-deterministic. */
  def q88Rfm(spark: SparkSession, dir: String): DataFrame = {
    val maxDay = Tables.orders(spark, dir)
      .agg(max(to_date($"o_orderdate")).as("d1"))
    val base = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_day"),
        count(lit(1)).as("frequency"),
        expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select($"o_custkey",
        (unix_date($"d1") - unix_date($"last_day")).cast("bigint").as("recency"),
        $"frequency", $"monetary")
    val bounds = base.agg(
      expr("percentile(recency, array(0.2, 0.4, 0.6, 0.8))").as("rb"),
      expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("fb"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mb"))
    def score(x: String, b: String): org.apache.spark.sql.Column = expr(
      s"cast(1 + aggregate($b, 0, (acc, v) -> acc + if($x > v, 1, 0)) as bigint)")
    base.crossJoin(broadcast(bounds))
      .select($"o_custkey", $"recency", $"frequency", $"monetary",
        score("recency", "rb").as("r_score"),
        score("frequency", "fb").as("f_score"),
        score("monetary", "mb").as("m_score"))
      .orderBy($"o_custkey")
  }

  /** Cohort LTV curve: cumulative revenue per signup-cohort week over
    * week offsets (retention's monetary twin). Cohort assignment
    * shares the user-keyed shuffle with the first-activity aggregate;
    * revenue sums stay exact decimals; the running cumulative is one
    * window over the tiny (cohort, offset) grid. */
  def q89CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"),
        when($"event_type" === "purchase", $"value").otherwise(lit(0.0)).as("rev"))
    val first = e.groupBy($"user_id")
      .agg(to_date(date_trunc("week", min($"day"))).as("cohort_week"))
    val wk = e.join(first, "user_id")
      .groupBy($"cohort_week",
        (((unix_date(to_date(date_trunc("week", $"day"))) -
          unix_date($"cohort_week")) / 7).cast("bigint")).as("week_offset"))
      .agg(sum(expr("cast(rev as decimal(18,2))")).as("wrev"))
    val w = Window.partitionBy($"cohort_week").orderBy($"week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk.withColumn("cum_rev", sum($"wrev").over(w))
      .select($"cohort_week", $"week_offset",
        expr("cast(wrev as double)").as("week_rev"),
        expr("cast(cum_rev as double)").as("cum_rev"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Last-touch attribution: each purchase credited to the most
    * recent PRIOR event type of the same user (the campaign-analytics
    * join). One user-keyed window (lag over the time-ordered event
    * stream with a total tie-break) — never an event×purchase range
    * join; credit shares are integer-ratio exact. */
  def q90Attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val withPrev = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
    val credited = withPrev
      .filter($"event_type" === "purchase" && $"prev_type".isNotNull)
      .groupBy($"prev_type").agg(count(lit(1)).as("n_purchases"))
    val tot = credited.agg(sum($"n_purchases").as("t"))
    credited.crossJoin(broadcast(tot))
      .select($"prev_type".as("touch_type"), $"n_purchases",
        ($"n_purchases" / $"t".cast("double")).as("credit_share"))
      .orderBy($"touch_type")
  }

  /** Seasonal-naïve forecast backtest: predict each day's revenue as
    * the value 7 observed days earlier (lag-7) and score MAE/MAPE per
    * priority — the baseline every forecasting pipeline must beat,
    * and a pure-integer backtest (absolute cent errors; divisions
    * only at the edge). One window + one aggregate. */
  def q91ForecastNaive(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily
      .withColumn("pred", lag($"cents", 7).over(w))
      .filter($"pred".isNotNull && $"cents" > 0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_scored"),
        round(sum(abs($"cents" - $"pred")).cast("double") /
          count(lit(1)) / 100.0, 6).as("mae_dollars"),
        // per-day ratios rounded to 12 dp and summed as DECIMAL:
        // a raw double Σ would vary in ulps with partition order
        round(sum(expr(
          "cast(round(abs(cents - pred) / cast(cents as double), 12) as decimal(24,12))"))
          .cast("double") / count(lit(1)), 6).as("mape"))
      .orderBy($"o_orderpriority")
  }

  /** MAD robust outlier screen over `events.value` per event type —
    * values more than 3 scaled MADs from their type's median. Median
    * and MAD are exact percentiles (engine-exact interpolation); the
    * threshold compares doubles produced by identical
    * correctly-rounded expressions, so the flagged set is
    * deterministic. Complements the mean/σ z-score screen (q30),
    * which extreme outliers themselves corrupt.
    * NOTE: the original target column (customer.c_acctbal) is
    * near-uniform in the synthetic data — max robust-z ≈ 1.48 at
    * sf0.1, so the standard 3σ fence could mathematically never fire
    * at scale and the gate was vacuously green (the round-7 vacuity
    * audit caught it; the 9 sf0.001 rows were small-sample MAD
    * degeneracy, not outliers). events.value is genuinely
    * heavy-tailed: the same fence flags 45/559/5781 rows at the three
    * SFs, growing with data — a live gate for the same operator. */
  def q92OutlierMad(spark: SparkSession, dir: String): DataFrame = {
    val med = Tables.events(spark, dir).groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = Tables.events(spark, dir)
      .join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        first($"med").as("med"))
    Tables.events(spark, dir)
      .join(broadcast(mad), "event_type")
      .filter($"mad" > 0 &&
        abs($"value" - $"med") > lit(3.0) * lit(1.4826) * $"mad")
      .select($"event_type", $"event_id", $"value",
        round(($"value" - $"med") / (lit(1.4826) * $"mad"), 6).as("robust_z"))
      .orderBy($"event_type", $"event_id")
  }

  /** Trailing 7-DAY revenue per priority-day via a RANGE window frame
    * keyed on the day ordinal — the time-based frame variant (q27's
    * RANGE frame ranges over a numeric measure; this one ranges over
    * TIME, so gap days widen the frame's row count). Integer cents in,
    * one window sort, exact sums. */
  def q93TimeRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("day_ord", unix_date($"day").cast("long"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day_ord")
      .rangeBetween(-6, 0) // calendar window: 7 days incl. today, gaps excluded
    daily
      .withColumn("trail7_cents", sum($"cents").over(w))
      .select($"o_orderpriority", $"day", $"cents", $"trail7_cents")
      .orderBy($"o_orderpriority", $"day")
  }

  /** Per-priority average order value through the typed-Aggregator API
    * (`TypedColumn` tier): custom aggregation with a case-class buffer,
    * integer-cents reduction/merge (order-insensitive), one division
    * in finish — the typed twin of the decimal-sum discipline the
    * untyped queries use. Plans as a regular two-phase aggregate. */
  def q94TypedAvg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_totalprice")
      .as[(String, Double)](Encoders.tuple(Encoders.STRING, Encoders.scalaDouble))
      .groupByKey(_._1)(Encoders.STRING)
      .mapValues(_._2)(Encoders.scalaDouble)
      .agg(graft.functions.TypedAggs.centsAvg.name("avg_price"))
      .toDF("o_orderpriority", "avg_price")
      .orderBy($"o_orderpriority")
  }

  /** The SQL front door: the same engine driven through
    * `spark.sql(...)` over registered temp views — a TPC-H-Q5-shaped
    * regional revenue rollup. Catalyst plans SQL text and DataFrame
    * calls identically (same optimizer, same physical operators), and
    * this gated query proves the library's tables and determinism
    * conventions hold for SQL-authored workloads too. */
  def q95SqlFrontDoor(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.nation(spark, dir).createOrReplaceTempView("v_nation")
    Tables.region(spark, dir).createOrReplaceTempView("v_region")
    spark.sql(
      """SELECT r_name AS region, n_name AS nation,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
        |FROM v_orders
        |JOIN v_customer ON o_custkey = c_custkey
        |JOIN v_nation ON c_nationkey = n_nationkey
        |JOIN v_region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY region, nation""".stripMargin)
  }

  /** Gap-based sessionization via the BUILT-IN session_window function
    * (the engine-native twin of the hand-rolled island pass in q14):
    * events within 30 minutes of each other merge into one session
    * whose window ends one gap after the last event. Same
    * streaming-compatible operator Structured Streaming uses; the
    * oracle recomputes sessions with the lag/island formulation. */
  def q96SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")

  /** As-of join through the custom MERGE operator (AsOfJoinExec):
    * each event picks up its latest prior order in one sorted pass
    * per co-clustered partition — no row expansion, unlike the
    * range-join + argmax composition (q13) whose intermediate is
    * every (event, eligible order) pair. Ties on order date break by
    * the largest order key (the operator's right tie-break). */
  def q97AsofOperator(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select($"event_id", $"user_id", $"ts")
    val o = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
    org.apache.spark.sql.graft.AsOf.join(e, o,
        Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate", Seq("o_orderkey"))
      .select($"event_id", $"user_id",
        $"o_orderkey".as("last_order_key"), $"o_orderdate".as("last_order_ts"))
      .orderBy($"event_id")
  }

  /** Approximate distinct users per event type through the KMV sketch
    * (TypedAggs.kmvDistinct): O(k) mergeable state, and — because the
    * hash function is md5, not a seeded engine-internal — the ESTIMATE
    * itself is deterministic and value-checked against an oracle that
    * recomputes the same k-minimum construction (the upgrade over the
    * rows-only HLL/GK gates: the sketch value is the contract). Exact
    * counts ride alongside so the error is visible. */
  def q98KmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.Encoders
    val est = Tables.events(spark, dir)
      .select($"event_type", md5($"user_id".cast("string")).as("h"))
      .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .groupByKey(_._1)(Encoders.STRING)
      .mapValues(_._2)(Encoders.STRING)
      .agg(graft.functions.TypedAggs.kmvDistinct(k).name("est"))
      .toDF("event_type", "est_raw")
    val exact = Tables.events(spark, dir).groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    est.join(exact, "event_type")
      // unrounded: the division chain is correctly-rounded IEEE, and a
      // final 6-dp round could land on a tie engines resolve differently
      .select($"event_type", $"n_exact", $"est_raw".as("est_distinct"))
      .orderBy($"event_type")
  }

  /** Decile lift/gains table over customer spend — the model-eval
    * readout (rank by score, bucket into deciles, cumulative share of
    * the outcome). Deciles come from broadcast exact-percentile
    * boundaries + map-side comparison (the q88 pattern — no global
    * ntile window at scale); shares are decimal-summed revenue over
    * the decimal total, cumulated over the 10-row decile table. */
  def q99DecileLift(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"),
        count(lit(1)).as("n_orders"))
      .withColumn("revd", $"rev".cast("double"))
    val bounds = spend.agg(expr(
      "percentile(revd, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))").as("b"))
    val bucketed = spend.crossJoin(broadcast(bounds))
      // decile 1 = the TOP spenders: 10 − #boundaries below
      .withColumn("decile", expr(
        "cast(10 - aggregate(b, 0, (acc, v) -> acc + if(revd > v, 1, 0)) as bigint)"))
    val deciles = bucketed.groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("drev"))
    val tot = deciles.agg(sum($"drev").as("trev"), sum($"n_customers").as("tn"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.crossJoin(broadcast(tot))
      .withColumn("cum_rev", sum($"drev").over(w)) // 10-row window: no scale concern
      .withColumn("cum_n", sum($"n_customers").over(w))
      .select($"decile", $"n_customers",
        expr("cast(drev as double)").as("decile_rev"),
        round(expr("cast(cum_rev as double) / cast(trev as double)"), 6).as("cum_rev_share"),
        round(($"cum_rev".cast("double") / $"trev".cast("double")) /
          ($"cum_n".cast("double") / $"tn".cast("double")), 6).as("lift"))
      .orderBy($"decile")
  }

  /** Exponentially-weighted moving average of daily revenue, the
    * decimal-rational formulation: the recursive EMA (α = 1/4) is
    * evaluated over an 8-point window with its EXACT rational weights
    * α(1−α)ʲ = 3ʲ/4ʲ⁺¹ brought to the common denominator 4⁸ — integer
    * weights wⱼ = 3ʲ·4⁷⁻ʲ, Σw = 4⁸ − 3⁸ = 58975. The weighted sum is
    * exact BIGINT arithmetic in both engines (no libm pow anywhere,
    * the float-parity trap the recursive form can't avoid), and the
    * EMA itself is emitted in exact integer MILLI-cents via integer
    * division — 58975 carries 5² factors, so a rounded IEEE division
    * genuinely ties at the 6th decimal (observed at sf0.01), the
    * failure class this repo's float-parity discipline forbids. The
    * truncated tail carries (3/4)⁸ ≈ 10% of the mass — the standard
    * windowed-EMA trade, and the reason the weights renormalize by Σw
    * rather than 4⁸. Same one-window-sort shape as q75's WMA. */
  def q100Ema(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val weighted = (0 to 7).map { j =>
      val wj = BigInt(3).pow(j).toLong * BigInt(4).pow(7 - j).toLong
      lag($"cents", j).over(w) * lit(wj)
    }.reduce(_ + _) // NULL while any lag is missing → warm-up rows drop
    daily
      .withColumn("wsum", weighted)
      .filter($"wsum".isNotNull)
      .select($"o_orderpriority", $"day", $"cents",
        // split div: floor(w·1000/58975) = (w div 58975)·1000 +
        // ((w mod 58975)·1000) div 58975 — exact, and never overflows
        // (a direct w*1000 wraps once daily revenue passes ~1.5e11 cents)
        expr("(wsum div 58975) * 1000 + ((wsum % 58975) * 1000) div 58975")
          .as("ema8_milli"))
      .orderBy($"o_orderpriority", $"day")
  }

  /** Categorical mode per user: the most frequent event type, with a
    * deterministic tie-break (lexicographically smallest among the max
    * counts) via one min_by over (−count, type) — both aggregates have
    * map-side partials, so the op is two thin shuffles at any scale. */
  def q102Mode(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(expr("min_by(event_type, struct(-c, event_type))").as("mode_type"),
        max($"c").as("n_mode"))
      .orderBy($"user_id")

  /** Spearman rank correlation per return flag (quantity vs extended
    * price), emitted as EXACT integer sufficient statistics: min-tie
    * ranks, d = rank_q − rank_p, Σd², and rho as the integer pair
    * rho_num/rho_den = 1 − 6Σd²/(n(n²−1)) — no division ever happens,
    * so no float boundary exists. Sums and the cubic denominator
    * ACCUMULATE as DECIMAL(38,0) (exact far past where n³ overflows
    * BIGINT) but the OUTPUT edge is BIGINT — the driver-hashable
    * schema contract (no DecimalType leaves a query; r5 verdict #1).
    * The min-tie ranks come from per-distinct-value counts +
    * the distributed prefix sum (rank(v) = 1 + #rows < v): return
    * flags are 3 FIXED keys, so `rank().over(partitionBy(flag))` would
    * funnel the whole table through 3 tasks twice — the rank maps are
    * value-keyed tables joined back on (flag, value) instead. */
  def q103Spearman(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
    def rankMap(valueCol: String, rankName: String,
        bucket: org.apache.spark.sql.Column): DataFrame =
      CorpusPipeline.prefixSumExclusive(
          li.groupBy($"l_returnflag", col(valueCol)).agg(count(lit(1)).as("_c")),
          "l_returnflag", Seq(col(valueCol)), "_c", "_lt", bucket)
        .select($"l_returnflag", col(valueCol), ($"_lt" + 1).as(rankName))
    li
      // r14: the quantity rank map is DOMAIN-bounded (TPC-H quantities
      // are 1..50 per flag — a few hundred rows at ANY corpus size), so
      // it broadcasts; without the hint the map's post-window size
      // estimate forces a full shuffle of lineitem onto (flag, qty).
      // The price map is near-distinct (corpus-sized) and keeps the
      // shuffle join.
      .join(broadcast(rankMap("l_quantity", "rq",
        expr("cast(l_quantity as bigint)"))), Seq("l_returnflag", "l_quantity"))
      .join(rankMap("l_extendedprice", "rp",
        expr("cast(floor(l_extendedprice / 512) as bigint)")),
        Seq("l_returnflag", "l_extendedprice"))
      .withColumn("d", $"rq" - $"rp")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(d * d as decimal(38,0))")).as("s2"))
      // cubic in group size (n³ ≈ 2.8e16 at sf0.1 — only ~330×
      // int64 headroom): exact decimal TEXT at the output edge
      .select($"l_returnflag", $"n",
        expr("cast(s2 as string)").as("sum_d2"),
        expr("cast(cast(n as decimal(38,0)) * n * n - n - 6 * s2 as string)").as("rho_num"),
        expr("cast(cast(n as decimal(38,0)) * n * n - n as string)").as("rho_den"))
      .orderBy($"l_returnflag")
  }

  /** Exact weighted median per group (price weighted by quantity): the
    * smallest value whose inclusive cumulative weight reaches half the
    * total — all integer comparisons (2·cw ≥ tw), no percentile
    * interpolation. Duplicate values pre-collapse into (value, Σw)
    * rows, and the cumulative weight rides the two-phase distributed
    * prefix sum — no per-group serial window, the same scale shape as
    * the packing family. */
  /** q104's (value frame keyed by l_returnflag, bucket column) — shared
    * by the operator and [[orderStatBucketMass]] (no-drift audit). */
  private[graft] def q104ValuesBucketed(spark: SparkSession,
      dir: String): (DataFrame, Column) = {
    val byValue = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        expr("cast(l_quantity as bigint)").as("wgt"))
      .groupBy($"l_returnflag", $"cents")
      .agg(sum($"wgt").as("w"))
    // bucket bounds from the RAW scan (parquet min/max stats make the
    // agg near-free) — bounding the grouped frame would re-run the
    // groupBy a second time just for the two bounds
    val rawCents = Tables.lineitem(spark, dir)
      .select(expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    (byValue, CorpusPipeline.equiWidthBucket(rawCents, "cents"))
  }

  def q104WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val (byValue, bkt) = q104ValuesBucketed(spark, dir)
    // r14 note: deriving tw from a separate raw-scan aggregate
    // ("skip the second wide aggregate") was MEASURED a regression
    // (2.8-3.0 → 3.5 s full-run; subset A/B leaned the same way):
    // THIS formulation's second byValue pass is almost free because
    // it reuses the (flag, cents) exchange the prefix pass already
    // shuffles, while a raw-scan total adds an unshared scan stage.
    // Keep the exchange-reusing shape.
    val tot = byValue.groupBy($"l_returnflag").agg(sum($"w").as("tw"))
    CorpusPipeline.prefixSumExclusive(byValue, "l_returnflag",
        Seq($"cents"), "w", "cw_excl", bkt)
      .join(broadcast(tot), "l_returnflag")
      .filter(($"cw_excl" + $"w") * 2 >= $"tw")
      .groupBy($"l_returnflag")
      .agg(max($"tw").as("total_weight"), min($"cents").as("wmedian_cents"))
      .orderBy($"l_returnflag")
  }

  /** Equi-width histogram of order totals: bucket index by integer
    * arithmetic over a broadcast (min, max) — ((v−lo)·k) div (hi−lo+1)
    * puts every value in 0..k−1 with zero float boundaries. One scan
    * for bounds (tiny result broadcast back), one for counts. */
  def q105Histogram(spark: SparkSession, dir: String,
      nBuckets: Int = 20): DataFrame = {
    val c = Tables.orders(spark, dir)
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val bounds = c.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    c.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr(s"((cents - lo) * $nBuckets) div (hi - lo + 1)"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
      .orderBy($"bucket")
  }

  /** First-response time: per user, the gap from the first click to
    * the first purchase at-or-after it — exact integer microseconds
    * end to end. Two filtered min-aggregates and one user-keyed join;
    * every stage is keyed on user_id, so the plan is a single
    * co-partitioned pipeline at any scale. */
  def q106ResponseTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("ts_us", unix_micros($"ts"))
    val firstClick = ev.filter($"event_type" === "click")
      .groupBy($"user_id").agg(min($"ts_us").as("first_click_us"))
    ev.filter($"event_type" === "purchase")
      .join(firstClick, "user_id")
      .filter($"ts_us" >= $"first_click_us")
      .groupBy($"user_id")
      .agg(min($"first_click_us").as("first_click_us"),
        min($"ts_us").as("first_purchase_us"))
      .withColumn("gap_us", $"first_purchase_us" - $"first_click_us")
      .orderBy($"user_id")
  }

  /** Two-sample Kolmogorov–Smirnov statistic (order totals of even- vs
    * odd-keyed customers) as EXACT integers: at every distinct value,
    * |F₁−F₂| cross-multiplies to |c₁n₂ − c₂n₁| / n₁n₂, so the supremum
    * is max|c₁n₂ − c₂n₁| — emitted as (ks_num, ks_den) with no
    * division, both as exact-decimal STRING digits (r8: n₁·n₂ measured
    * exp 2.0 at the sf1 audit, ~4.0e3×SF to int64 — the cross-products
    * are DECIMAL(38,0) internally so neither the arithmetic nor the
    * output edge can overflow at any deployment SF). Values
    * pre-collapse per distinct cents, and both
    * cumulative counts ride the two-phase distributed prefix sum
    * (constant key): no global single-task window even though the
    * cumsum is corpus-wide. */
  def q108KsTest(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.orders(spark, dir)
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        ($"o_custkey" % 2).cast("int").as("grp"))
      .groupBy($"cents")
      .agg(sum(when($"grp" === 0, 1L).otherwise(0L)).as("a1"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("a2"))
      .withColumn("k", lit(1))
    val bkt = CorpusPipeline.equiWidthBucket(s, "cents")
    val cum = CorpusPipeline.prefixSumsExclusive(s, "k", Seq($"cents"),
      Seq("a1" -> "c1x", "a2" -> "c2x"), bkt)
    val tot = s.agg(sum($"a1").as("n1"), sum($"a2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .select($"n1", $"n2",
        abs(($"c1x" + $"a1").cast("decimal(38,0)") * $"n2" -
          ($"c2x" + $"a2").cast("decimal(38,0)") * $"n1").as("diff"))
      .groupBy()
      .agg(max($"n1").as("n1"), max($"n2").as("n2"),
        max($"diff").cast("string").as("ks_num"),
        (max($"n1").cast("decimal(38,0)") * max($"n2")).cast("string")
          .as("ks_den"))
  }

  /** Wald–Wolfowitz-style runs test inputs: per priority, the number
    * of runs of above-mean daily revenue. The above-mean test is the
    * exact integer cross-multiply cents·n > total (never a float mean),
    * run boundaries are one lag window. The per-priority window is
    * bounded by the CALENDAR (days), not the corpus, so it stays a
    * non-issue at any data scale. */
  def q111RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val tot = daily.groupBy($"o_orderpriority")
      .agg(sum($"cents").as("total"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily.join(broadcast(tot), "o_orderpriority")
      .withColumn("above", ($"cents" * $"n_days" > $"total").cast("int"))
      .withColumn("boundary",
        when(lag($"above", 1).over(w).isNull, 1)
          .when(lag($"above", 1).over(w) =!= $"above", 1).otherwise(0))
      .groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"),
        sum($"above").cast("bigint").as("n_above"),
        sum($"boundary").cast("bigint").as("n_runs"))
      .orderBy($"o_orderpriority")
  }

  /** Mann–Whitney rank-sum inputs (order totals of even- vs odd-keyed
    * customers) as EXACT integers: with deterministic min-tie ranks,
    * rank(v) = 1 + #(values < v), so Σ_A ranks = Σ_v a₁(v)·(1 + c_<(v))
    * — computed from per-distinct-value counts and ONE distributed
    * prefix sum over their sum, never a global ranking window. Emits
    * (n1, n2, rank_sum_a, u_a = rank_sum − n1(n1+1)/2); consumers
    * normalize as they wish — no division, no float boundary.
    * r8: rank_sum_a/u_a are Σrank-scale ~ n²/2 (sf1 audit exp 2.0,
    * ~4.1e3×SF to int64) so both accumulate in DECIMAL(38,0) and leave
    * as exact STRING digits — overflow-free at any deployment SF. */
  def q112MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.orders(spark, dir)
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        ($"o_custkey" % 2).cast("int").as("grp"))
      .groupBy($"cents")
      .agg(sum(when($"grp" === 0, 1L).otherwise(0L)).as("a1"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("a2"))
      .withColumn("all_n", $"a1" + $"a2")
      .withColumn("k", lit(1))
    val cum = CorpusPipeline.prefixSumExclusive(s, "k", Seq($"cents"),
      "all_n", "c_lt", CorpusPipeline.equiWidthBucket(s, "cents"))
    cum.groupBy()
      .agg(sum($"a1").as("n1"), sum($"a2").as("n2"),
        sum($"a1".cast("decimal(38,0)") * (lit(1L) + $"c_lt")).as("rank_sum_a"))
      .select($"n1", $"n2",
        $"rank_sum_a".cast("string").as("rank_sum_a"),
        // n1(n1+1) is even: halve the even factor with exact bigint
        // div FIRST, then multiply in decimal — no IEEE `/`, and the
        // n² product never exists as an int64
        expr("cast(rank_sum_a - (CASE WHEN n1 % 2 = 0" +
          " THEN cast(n1 div 2 as decimal(38,0)) * (n1 + 1)" +
          " ELSE cast((n1 + 1) div 2 as decimal(38,0)) * n1 END)" +
          " as string)").as("u_a"))
  }

  /** Top-k WITH TIES per group (the SQL `FETCH FIRST k ROWS WITH TIES`
    * semantics): rank() ≤ k keeps every row tied with the k-th instead
    * of an arbitrary row_number cut — the variant a revenue-leaderboard
    * wants when equal values must not be dropped nondeterministically.
    * One window per group key; integer cents. */
  def q114TopkTies(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"cents".desc)
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey",
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .withColumn("rnk", rank().over(w).cast("bigint"))
      .filter($"rnk" <= k)
      .select($"o_orderpriority", $"rnk", $"cents", $"o_orderkey")
      .orderBy($"o_orderpriority", $"rnk", $"o_orderkey")
  }

  /** Customer spend-quintile transition matrix (1996 → 1997): the
    * mobility readout behind churn/upsell planning. Quintile
    * boundaries are exact per-year percentiles broadcast back (never a
    * global ntile window); the transition count is one customer-keyed
    * self-join of the two scored years. */
  def q116QuintileTransition(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .filter(year($"o_orderdate").isin(1996, 1997))
      .groupBy($"o_custkey", year($"o_orderdate").as("yr"))
      .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("rev"))
    val bounds = rev.groupBy($"yr")
      .agg(expr("percentile(rev, array(0.2, 0.4, 0.6, 0.8))").as("b"))
    val scored = rev.join(broadcast(bounds), "yr")
      .select($"o_custkey", $"yr",
        expr("cast(1 + aggregate(b, 0, (acc, v) -> acc + if(rev > v, 1, 0)) as bigint)").as("q"))
    scored.filter($"yr" === 1996).select($"o_custkey", $"q".as("q_prev"))
      .join(scored.filter($"yr" === 1997).select($"o_custkey", $"q".as("q_cur")),
        "o_custkey")
      .groupBy($"q_prev", $"q_cur")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"q_prev", $"q_cur")
  }

  /** Diurnal profile: each event type's busiest hour of day (argmax
    * with a deterministic hour tie-break) plus that hour's share of
    * the type's traffic — integer counts, one division. */
  def q101PeakHour(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy($"event_type", hour($"ts").cast("bigint").as("hod"))
      .agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy($"event_type").agg(sum($"n").as("t"))
    hourly.join(broadcast(tot), "event_type")
      .groupBy($"event_type")
      .agg(expr("max_by(hod, struct(n, -hod))").as("peak_hour"),
        max(struct($"n", -$"hod")).getField("n").as("n_peak"),
        max($"t").as("n_total"))
      .select($"event_type", $"peak_hour", $"n_peak",
        ($"n_peak" / $"n_total").as("peak_share"))
      .orderBy($"event_type")
  }

  /** Kendall tau-b sufficient statistics (quantity vs discount per
    * return flag) by CELL DOMINANCE counting: rows collapse to joint
    * (x, y) frequency cells first — the cell count is bounded by the
    * attribute DOMAIN (≤ 50 quantities × 11 discounts), not the corpus
    * — and every pair class (concordant / discordant / tied-x /
    * tied-y / tied-both) is an exact integer Σ cᵃ·cᵇ over the tiny
    * cell×cell join. O(n) scan + O(cells²) arithmetic at any scale,
    * never an O(n²) row self-join; sums ride DECIMAL(38,0) so a
    * 100 TB cell count cannot overflow. No division anywhere —
    * consumers form τ_b = (C−D)/√((P−Tx)(P−Ty)) themselves.
    * r8: every pair-class column is n²-scale (sf1 audit exp 2.0,
    * ~3.2e3×SF to int64) — the whole family leaves as exact STRING
    * digits off the internal decimals; only n stays BIGINT. */
  def q117Kendall(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        expr("cast(l_quantity as bigint)").as("x"),
        expr("cast(cast(l_discount as decimal(4,2)) * 100 as bigint)").as("y"))
      .groupBy($"l_returnflag", $"x", $"y")
      .agg(count(lit(1)).as("c"))
    val b = cells.select($"l_returnflag".as("rf2"), $"x".as("xb"),
      $"y".as("yb"), $"c".as("cb"))
    val cross = cells.join(broadcast(b), $"l_returnflag" === $"rf2")
      .withColumn("prod", expr("cast(c as decimal(38,0)) * cb"))
    val pairClasses = cross.groupBy($"l_returnflag")
      .agg(
        sum(when($"x" < $"xb" && $"y" < $"yb", $"prod")).as("concordant"),
        sum(when($"x" < $"xb" && $"y" > $"yb", $"prod")).as("discordant"),
        sum(when($"x" === $"xb" && $"y" < $"yb", $"prod")).as("tied_x_only"),
        sum(when($"y" === $"yb" && $"x" < $"xb", $"prod")).as("tied_y_only"))
    val diag = cells.groupBy($"l_returnflag")
      .agg(sum($"c").as("n"),
        sum(expr("cast((c * (c - 1)) div 2 as decimal(38,0))")).as("tied_both"))
    diag.join(pairClasses, "l_returnflag")
      .select($"l_returnflag", $"n",
        expr("cast(concordant as string)").as("concordant"),
        expr("cast(discordant as string)").as("discordant"),
        expr("cast(tied_x_only as string)").as("tied_x_only"),
        expr("cast(tied_y_only as string)").as("tied_y_only"),
        expr("cast(tied_both as string)").as("tied_both"),
        expr("cast(concordant - discordant as string)").as("tau_num"))
      .orderBy($"l_returnflag")
  }

  /** Mann–Kendall trend inputs over per-priority daily revenue:
    * S = Σ_{i<j} sign(cents_j − cents_i) and the ties-corrected
    * variance NUMERATOR n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the /18 and
    * the z-score are the consumer's) — exact integers end to end.
    * The day×day self-join is bounded by the CALENDAR squared (the
    * same contract as q111's runs test), so corpus growth only
    * changes the daily aggregate, never the pair count. */
  def q118MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    // broadcast the (tiny, calendar-bounded) right side: an equi-join on
    // priority alone has 5 keys and would serialize the ~n_days² pair
    // expansion onto 5 tasks; the broadcast join expands map-side at
    // full parallelism instead
    val later = daily.select($"o_orderpriority".as("p2"),
      $"day".as("day2"), $"cents".as("cents2"))
    val s = daily.join(broadcast(later), $"o_orderpriority" === $"p2" && $"day" < $"day2")
      .groupBy($"o_orderpriority")
      .agg(sum(when($"cents2" > $"cents", 1L)
        .when($"cents2" < $"cents", -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy($"o_orderpriority", $"cents")
      .agg(count(lit(1)).as("t"))
      .groupBy($"o_orderpriority")
      .agg(sum($"t").as("n_days"),
        sum($"t" * ($"t" - 1) * (lit(2L) * $"t" + 5)).as("tie_term"))
    ties.join(s, "o_orderpriority")
      .select($"o_orderpriority", $"n_days", $"s_stat",
        ($"n_days" * ($"n_days" - 1) * (lit(2L) * $"n_days" + 5) - $"tie_term")
          .as("var18_num"))
      .orderBy($"o_orderpriority")
  }

  /** Cramér's V over the event-type × user-segment contingency. Each
    * χ² term is exact-integer-derived ((O·n − r·c)² / (n·r·c) — the
    * expected-count division folded away), and the term SUM runs as an
    * ordered cumulative window over the ≤ |types|×2 cells so both
    * engines add the same doubles in the same sequence — the only
    * deterministic way to total float terms. V = √(χ²/(n·(min(r,c)−1)))
    * — sqrt is correctly rounded IEEE, so it preserves parity. The
    * window is single-task but bounded by the type DOMAIN, not the
    * corpus. */
  def q119CramersV(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(spark, dir)
      .groupBy($"event_type", ($"user_id" % 2).cast("int").as("segment"))
      .agg(count(lit(1)).as("n"))
    val rowT = obs.groupBy($"event_type").agg(sum($"n").as("row_n"))
    val colT = obs.groupBy($"segment").agg(sum($"n").as("col_n"))
    val tot = obs.agg(sum($"n").as("total_n"), count(lit(1)).as("n_cells"))
    val dims = obs.agg(countDistinct($"event_type").as("n_rows_dim"),
      countDistinct($"segment").as("n_cols_dim"))
    val terms = obs.join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "segment")
      .crossJoin(broadcast(tot))
      .withColumn("diff_d", expr(
        "cast(cast(n as decimal(38,0)) * total_n - cast(row_n as decimal(38,0)) * col_n as double)"))
      .withColumn("term",
        $"diff_d" * $"diff_d" /
          ($"total_n".cast("double") * $"row_n" * $"col_n"))
    val wCum = Window.orderBy($"event_type", $"segment")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms.withColumn("chi2_cum", sum($"term").over(wCum))
      .groupBy()
      .agg(max($"total_n").as("n"),
        expr("max_by(chi2_cum, struct(event_type, segment))").as("chi2"))
      .crossJoin(broadcast(dims))
      .select($"n", $"n_rows_dim", $"n_cols_dim", $"chi2",
        sqrt($"chi2" / ($"n" * (least($"n_rows_dim", $"n_cols_dim") - 1)))
          .as("cramers_v"))
  }

  /** Hodges–Lehmann pseudo-median of per-priority daily revenue,
    * emitted as hl2 = the exact LOWER MEDIAN of pairwise sums
    * cᵢ+cⱼ (i<j by day) — twice the HL estimator, a pure integer, so
    * no .5 ever reaches a float. r14 shape: the pair multiset's INPUT
    * is the calendar-bounded daily series (~2.4k rows per priority at
    * ANY SF — the q118/q120 adjudication), so the selection collapses
    * to one per-group expression over the collected daily array
    * ([[org.apache.spark.sql.graft.PairOrderStats.pairSumLowerMedian]]:
    * binary search on the value domain with an O(days) two-pointer
    * rank count — no pair row ever materializes). Replaces the r11
    * TWO-PASS distributed order statistic that streamed a ~14M-row
    * map-side pair expansion through two full passes: same exact
    * integer (oracle unchanged — it still computes the order statistic
    * from its own pair expansion), but the only shuffle left is the
    * daily aggregate's (before/after numbers in OPTIMIZATION_r14.md;
    * the full value-collapse this device originally replaced ran 19 s). */

  /** Bucket-mass health telemetry for the two-pass order-statistic
    * family (q104/q148 prefix-sum order statistics): per (operator,
    * group key), the fraction of rows the WORST bucket holds, in exact
    * micro units. The two-phase prefix device keys its offsets join on
    * the bucket, so a bucket holding most of the rows silently
    * degrades the pass back to the serial window it exists to avoid
    * (the historical q171 equi-width regression class — one central
    * bucket held >50% of slopes until log-spaced buckets capped it;
    * q120/q171 left the family in r14 when their pair medians became
    * per-group selections over the calendar-bounded daily arrays, see
    * [[q120HodgesLehmann]]). Built from the SAME bucketed frames the
    * operators consume (q104ValuesBucketed / q148ValuesBucketed), so
    * this audit cannot drift from the plans it audits; the spec
    * asserts a hard ceiling instead of eyeballing bench deltas. */
  private[graft] def orderStatBucketMass(spark: SparkSession, dir: String): DataFrame = {
    def mass(df: DataFrame, op: String, keyCol: Column, b: Column): DataFrame =
      df.select(keyCol.cast("string").as("key"), b.as("_b"))
        .groupBy($"key", $"_b").agg(count(lit(1)).as("c"))
        .groupBy($"key")
        .agg(sum($"c").as("n_rows"), max($"c").as("worst_bucket_rows"))
        .select(lit(op).as("op"), $"key", $"n_rows", $"worst_bucket_rows",
          expr("worst_bucket_rows * 1000000 div n_rows").as("worst_mass_micro"))
    val (v104, b104) = q104ValuesBucketed(spark, dir)
    val (v148, b148) = q148ValuesBucketed(spark, dir)
    mass(v104, "q104_weighted_median", $"l_returnflag", b104)
      .unionAll(mass(v148, "q148_qq_decile", $"grp", b148))
      .orderBy($"op", $"key")
  }

  def q120HodgesLehmann(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    daily.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), collect_list($"cents").as("xs"))
      .filter($"n" >= 2)
      .select($"o_orderpriority",
        expr("n * (n - 1) div 2").as("n_pairs"),
        org.apache.spark.sql.graft.OrderStatFunctions
          .pairSumLowerMedian($"xs").as("hl2_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Theil–Sen robust slope of per-priority daily revenue — the
    * regression sibling of [[q120HodgesLehmann]] (median of pairwise
    * SLOPES instead of pairwise sums; up to 29.3% contamination
    * breakdown vs OLS's zero): ts_slope_micro = the exact LOWER MEDIAN
    * of per-pair slopes (cⱼ−cᵢ)·10⁶ div (dⱼ−dᵢ), i<j by day,
    * SIGN-SPLIT (sign · abs-quotient) so Spark's truncate-toward-zero
    * div and the oracle's floor-div agree on negative slopes — every
    * value a pure integer, no float boundary. r14 shape: the slope
    * multiset's INPUT is the calendar-bounded daily series, so the
    * selection is one per-group expression over the collected
    * (day, cents) array ([[org.apache.spark.sql.graft.PairOrderStats
    * .theilSenLowerMedianMicro]] — enumerate the days²-bounded slopes
    * locally, one sort, take rank (m+1) div 2; fail-loud ceiling at
    * 4096 days). Replaces the r11→r13 two-pass distributed order
    * statistic (log-spaced buckets over a twice-streamed ~14M-row
    * broadcast pair expansion): same exact integer (oracle unchanged),
    * one daily aggregate instead of two expansions — before/after in
    * OPTIMIZATION_r14.md. */
  def q171TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("d", expr("datediff(day, date'1970-01-01')").cast("long"))
    daily.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("array_sort(collect_list(struct(d, cents)))").as("dc"))
      .filter($"n" >= 2)
      .select($"o_orderpriority",
        expr("n * (n - 1) div 2").as("n_pairs"),
        org.apache.spark.sql.graft.OrderStatFunctions.theilSenLowerMedianMicro(
          expr("transform(dc, x -> x.d)"),
          expr("transform(dc, x -> x.cents)")).as("ts_slope_micro"))
      .orderBy($"o_orderpriority")
  }

  /** Median + MAD (median absolute deviation) robust-scale profile of
    * per-priority daily revenue, with the 3-MAD outlier census — the
    * robust twin of the mean±3σ control chart (q138): one extreme day
    * moves σ arbitrarily but moves MAD not at all (50% breakdown).
    * EVERYTHING is exact integer via the doubled-median device
    * (q165's m2 = x_(k1) + x_(k2), exact for even and odd n, applied
    * TWICE): med2 = doubled median of cents, dev2ᵢ = |2·centsᵢ − med2|
    * (= 2·|xᵢ − med|, an integer), mad4 = doubled median of dev2
    * (= 4·MAD), and the outlier test |x−med| > 3·MAD is the integer
    * cross-multiplication 2·dev2 > 3·mad4 — no float ever appears.
    * Scale shape: the series is calendar-bounded per priority, so the
    * two rank windows are O(days) groups at any corpus size; the
    * census is one more pass over the same day-keyed aggregate. */
  def q172MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    def doubledMedian(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy(col(valueCol), $"day")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
        .filter($"rn" === expr("(n + 1) div 2") || $"rn" === expr("(n + 2) div 2"))
        .groupBy($"o_orderpriority")
        // n odd -> the single middle row survives both rank tests: double it
        .agg(when(count(lit(1)) === 1, sum(col(valueCol)) * 2)
          .otherwise(sum(col(valueCol))).as(outCol),
          max($"n").as("n_days"))
    }
    val med = doubledMedian(daily, "cents", "med2_cents")
      .select($"o_orderpriority", $"med2_cents", $"n_days")
    val dev = daily.join(broadcast(med), Seq("o_orderpriority"))
      .withColumn("dev2", expr("abs(2 * cents - med2_cents)"))
    val mad = doubledMedian(dev, "dev2", "mad4_cents")
      .select($"o_orderpriority", $"mad4_cents")
    dev.join(broadcast(mad), Seq("o_orderpriority"))
      .groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"), max($"med2_cents").as("med2_cents"),
        max($"mad4_cents").as("mad4_cents"),
        sum(when(expr("2 * dev2 > 3 * mad4_cents"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy($"o_orderpriority")
  }

  /** Kaplan–Meier survival curve over customer lifetimes (weeks from
    * first to last order; a lifetime is an observed "death" only when
    * it ended ≥ 8 weeks before the corpus edge, else censored — the
    * right-censoring every retention analysis needs). Risk sets and
    * event counts are exact integers off one per-customer aggregate;
    * the survival product multiplies (nᵢ−dᵢ)/nᵢ factors via an
    * identical LEFT FOLD in event-time order on both engines (product
    * is the one float reduction with no exact form — fixing the fold
    * order makes it deterministic, the multiplicative twin of
    * q119's ordered sum). Distinct event times are bounded by the
    * CALENDAR in weeks, so the fold array and the tiny window stay
    * O(hundreds) at any corpus size. */
  def q121KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first_day"),
        max(to_date($"o_orderdate")).as("last_day"))
    val cutoff = Tables.orders(spark, dir)
      .agg(date_sub(max(to_date($"o_orderdate")), 56).as("cutoff"))
    val byT = perCust.crossJoin(broadcast(cutoff))
      .select(expr("datediff(last_day, first_day) div 7").as("t"),
        ($"last_day" <= $"cutoff").cast("int").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1) - $"event").as("cns"),
        count(lit(1)).as("m"))
    val total = byT.agg(sum($"m").as("n_total"))
    val wPrior = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val steps = byT.crossJoin(broadcast(total))
      .withColumn("n_at_risk", $"n_total" - coalesce(sum($"m").over(wPrior), lit(0L)))
      .filter($"d" > 0)
      .select($"t".as("t_weeks"), $"n_at_risk", $"d", $"cns")
    val fs = steps.agg(sort_array(collect_list(
      struct($"t_weeks".as("t"), (($"n_at_risk" - $"d") / $"n_at_risk").as("f")))).as("fs"))
    steps.crossJoin(broadcast(fs))
      .select($"t_weeks", $"n_at_risk", $"d".as("n_events"), $"cns".as("n_censored"),
        expr("aggregate(filter(fs, x -> x.t <= t_weeks), cast(1.0 as double), (acc, x) -> acc * x.f)")
          .as("survival"))
      .orderBy($"t_weeks")
  }

  /** Correlogram sufficient statistics: per priority, the lag-1..7
    * autocorrelation inputs of the daily-revenue series as EXACT
    * integers (n, Σx, Σy, Σxy, Σx², Σy² per lag — consumers form
    * rₖ; no division, no float). Lag pairing is a row_number
    * self-join (b.rn = a.rn − k) rather than 7 stacked lag windows —
    * one window pass plus one co-partitioned join covers all lags,
    * and DECIMAL(38,0) keeps 100 TB daily-cents squares exact. The
    * per-priority window is calendar-bounded (q111's contract). */
  def q122Correlogram(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val rn = daily.withColumn("rn", row_number().over(w).cast("long"))
    val prior = rn.select($"o_orderpriority".as("p2"), $"rn".as("rn2"),
      $"cents".as("y"))
    rn.select($"o_orderpriority", $"rn", $"cents",
        explode(expr("sequence(1, 7)")).as("lag"))
      .join(prior, $"o_orderpriority" === $"p2" && $"rn2" === $"rn" - $"lag")
      .groupBy($"o_orderpriority", $"lag")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(cents as decimal(38,0))")).as("sum_x"),
        sum(expr("cast(y as decimal(38,0))")).as("sum_y"),
        sum(expr("cast(cents as decimal(38,0)) * y")).as("sum_xy"),
        sum(expr("cast(cents as decimal(38,0)) * cents")).as("sum_x2"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("sum_y2"))
      // Output edge: linear cent sums fit BIGINT; the squared/cross
      // sums grow quadratically in daily volume and pass 2^63 at the
      // bench SF already — emitted as exact decimal TEXT (the
      // no-DecimalType-output contract, r5 verdict #1).
      .select($"o_orderpriority", $"lag".cast("bigint").as("lag"), $"n",
        expr("cast(sum_x as bigint)").as("sum_x"),
        expr("cast(sum_y as bigint)").as("sum_y"),
        expr("cast(sum_xy as string)").as("sum_xy"),
        expr("cast(sum_x2 as string)").as("sum_x2"),
        expr("cast(sum_y2 as string)").as("sum_y2"))
      .orderBy($"o_orderpriority", $"lag")
  }

  /** Correlation ratio η² — the ANOVA "variance explained" readout:
    * how much of daily-revenue variance the day-of-week explains.
    * η² = (n·Σ_d S_d²/n_d − S²) / (n·Σx² − S²) over integer cents:
    * every sufficient statistic is exact (DECIMAL sums), and the one
    * float reduction — the 7 between-group terms S_d²/n_d — runs as
    * an ORDERED cumulative sum over the dow rows, the same
    * only-deterministic-float-total trick as [[q119CramersV]]'s χ².
    * Day-of-week is epoch-day mod 7 (both engines' native dayofweek
    * disagree on Sunday). */
  def q129EtaSquared(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
        .as("cents"))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      sum(expr("cast(cents as decimal(38,0))")).as("s"),
      sum(expr("cast(cents as decimal(38,0)) * cents")).as("sxx"))
    val byDow = daily
      .groupBy(expr("datediff(day, date'1970-01-01') % 7").cast("long").as("dow"))
      .agg(count(lit(1)).as("n_d"),
        sum(expr("cast(cents as decimal(38,0))")).as("s_d"))
      .withColumn("term",
        expr("cast(s_d as double) * cast(s_d as double) / n_d"))
    val wCum = Window.orderBy($"dow")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tb = byDow.withColumn("cum", sum($"term").over(wCum)) // 7-row window
      .agg(expr("max_by(cum, dow)").as("t_between"),
        count(lit(1)).as("n_groups"))
    tot.crossJoin(broadcast(tb))
      // Output edge: Σcents is linear (BIGINT); Σcents² is quadratic
      // in daily volume and passes 2^63 at the bench SF — exact
      // decimal TEXT.
      .select($"n_days",
        expr("cast(s as bigint)").as("sum_cents"),
        expr("cast(sxx as string)").as("sum_sq"),
        $"n_groups", $"t_between",
        expr("(cast(n_days as double) * t_between" +
          " - cast(s as double) * cast(s as double))" +
          " / (cast(n_days as double) * cast(sxx as double)" +
          " - cast(s as double) * cast(s as double))").as("eta_squared"))
  }

  /** Lorenz curve at decile resolution: cumulative revenue share of
    * customers ordered poorest→richest — the curve behind [[q66Gini]]'s
    * coefficient (and the concentration picture a mixing policy reads
    * before capping a dominant source). Same broadcast-percentile
    * bucketing as [[q99DecileLift]] — NO global ntile, the cumsum runs
    * over 10 decile rows. Integer-cent decimal sums; the only division
    * is the final share. */
  def q125Lorenz(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
        .as("cents"))
      .withColumn("cd", $"cents".cast("double"))
    val bounds = spend.agg(expr(
      "percentile(cd, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))").as("b"))
    val bucketed = spend.crossJoin(broadcast(bounds))
      // decile 1 = the LOWEST spenders: 1 + #boundaries strictly below
      .withColumn("decile", expr(
        "cast(1 + aggregate(b, 0, (acc, v) -> acc + if(cd > v, 1, 0)) as bigint)"))
    val deciles = bucketed.groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("cast(cents as decimal(38,0))")).as("dcents"))
    val tot = deciles.agg(sum($"dcents").as("tcents"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.crossJoin(broadcast(tot))
      .withColumn("cum_cents", sum($"dcents").over(w)) // 10-row window
      .select($"decile", $"n_customers",
        expr("cast(dcents as bigint)").as("decile_cents"),
        expr("cast(cum_cents as bigint)").as("cum_cents"),
        ($"cum_cents".cast("double") / $"tcents".cast("double")).as("cum_share"))
      .orderBy($"decile")
  }

  /** Markov next-event prediction accuracy — the self-evaluation of
    * [[q56Markov]]'s transition matrix: predict argmax-count successor
    * per state (deterministic tie-break: smallest event type), score
    * against every observed transition. The argmax runs over the tiny
    * |states|² count table; scoring joins the BROADCAST prediction map
    * back to the pair stream — one user-keyed window pass + one
    * map-side join at any scale. Exact integer counts; accuracy is the
    * one edge division. */
  def q127MarkovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"event_type".as("from_state"),
        lead($"event_type", 1).over(w).as("to_state"))
      .filter($"to_state".isNotNull)
    val counts = pairs.groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy($"from_state").orderBy($"n".desc, $"to_state")
    val pred = counts.withColumn("rn", row_number().over(wp))
      .filter($"rn" === 1)
      .select($"from_state".as("pf"), $"to_state".as("predicted"))
    pairs.join(broadcast(pred), $"from_state" === $"pf")
      .groupBy($"from_state", $"predicted")
      .agg(count(lit(1)).as("n_transitions"),
        sum(when($"to_state" === $"predicted", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", $"n_correct" / $"n_transitions")
      .orderBy($"from_state")
  }

  /** Atkinson inequality index (ε = 2) of customer spend per nation:
    * A₂ = 1 − harmonic-mean/mean — the inequality-aversion-weighted
    * cousin of [[q66Gini]]. The harmonic sum Σ1/xᵢ is carried as the
    * exact integer Σ(10¹² div xᵢ) (same scaled-reciprocal discipline
    * both engines share bit-for-bit — no float accumulation), so
    * A₂ = 1 − n²·10¹²/(S₁·Σx) is a single rational: (num, den)
    * DECIMAL(38,0) parts, one edge division. Map-side partial aggs on
    * the customer key, then a 25-row nation rollup. */
  def q128Atkinson(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
        .as("cents"))
    val nat = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    spend.join(nat, $"o_custkey" === $"c_custkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(cents as decimal(38,0))")).as("sum_cents"),
        sum(expr("cast(1000000000000 div cents as decimal(38,0))")).as("s1"))
      // Output edge: n²·10¹² is quadratic in group size — exact
      // decimal TEXT; the linear sums leave as BIGINT.
      .select($"n_name", $"n",
        expr("cast(sum_cents as bigint)").as("sum_cents"),
        expr("cast(s1 as bigint)").as("s1"),
        expr("cast(cast(n as decimal(38,0)) * n * 1000000000000 as string)")
          .as("atk_num"),
        expr("cast(s1 * sum_cents as string)").as("atk_den"))
      .withColumn("atkinson2",
        lit(1.0) - $"atk_num".cast("double") / $"atk_den".cast("double"))
      .orderBy($"n_name")
  }

  /** Degree assortativity of the co-purchase graph — do hubs connect
    * to hubs? Pearson correlation of endpoint degrees over DIRECTED
    * edges (both orientations, the standard Newman formulation). On a
    * symmetric edge set Σx = Σy and Σx² = Σy², so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — a single exact-integer
    * rational, NO sqrt: the usual two-sided denominator collapses
    * because its factors are equal. Each directed edge joins the
    * degree table twice on a node key — SHUFFLED-hash, not broadcast:
    * the degree table has one row per distinct node, so it grows with
    * the corpus and a broadcast hint would become a multi-GB driver
    * materialization at 100× (both sides hash-partition on the node
    * key instead; the edge side is the big one and never sorts). Sums
    * are DECIMAL(38,0) (degree products at web scale pass 2⁶³).
    * Emitted as (num, den) parts + the one edge division. */
  def q123Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val dd = edges
      .join(deg.select($"src", $"deg".as("dx")).hint("shuffle_hash"), "src")
      .join(deg.select($"src".as("dst"), $"deg".as("dy")).hint("shuffle_hash"),
        "dst")
    dd.agg(count(lit(1)).as("m_edges"),
        sum(expr("cast(dx as decimal(38,0))")).as("sum_x"),
        sum(expr("cast(dx as decimal(38,0)) * dy")).as("sum_xy"),
        sum(expr("cast(dx as decimal(38,0)) * dx")).as("sum_x2"))
      // Output edge: degree sums fit BIGINT at any graph this side of
      // the web; num/den carry (Σx)² — quadratic in edges — so they
      // leave as exact decimal TEXT (no-DecimalType-output contract).
      .select($"m_edges",
        expr("cast(sum_x as bigint)").as("sum_x"),
        expr("cast(sum_xy as bigint)").as("sum_xy"),
        expr("cast(sum_x2 as bigint)").as("sum_x2"),
        expr("cast(m_edges * sum_xy - sum_x * sum_x as string)")
          .as("assort_num"),
        expr("cast(m_edges * sum_x2 - sum_x * sum_x as string)")
          .as("assort_den"))
      .withColumn("assortativity",
        $"assort_num".cast("double") / $"assort_den".cast("double"))
  }

  /** Degree distribution of the co-purchase graph: nodes per degree —
    * the heavy-tail audit read before sizing any hub cap (q58's
    * maxDegree dial) or skew salt. Two tiny node-keyed aggregates;
    * output is bounded by the max degree, not the corpus. */
  def q124DegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val edges = pairs.select($"a".as("src")).unionAll(pairs.select($"b".as("src")))
    edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  /** Bounded BFS: reachable-node counts at 1..3 hops from the
    * max-degree hub (deterministic tie-break: smallest part id). Three
    * unrolled frontier-expansion joins — the same
    * join-per-iteration shape as [[q57Pagerank]], each co-partitioned
    * on the node key; visited-set subtraction is a left-anti join per
    * hop (frontiers stay small; at 100 TB pre-partitioning edges by
    * src makes every hop reuse one exchange). Hop counts are exact
    * integers. */
  def q126BfsHops(spark: SparkSession, dir: String, hops: Int = 3): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    // r15: persist the edge list HASH-PARTITIONED on src (the q57
    // exemplar this file already documents): every hop joins on
    // src === node, so the cached partitioning makes each hop's join
    // edge-side shuffle-free — only the node-sized frontier moves
    // (guide §2.4 same-keyed ops share one exchange). Before, every
    // hop re-shuffled the full edge list.
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
      .repartition($"src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val hub = deg.orderBy($"deg".desc, $"src").limit(1)
      .select($"src".as("node"))
    var visited = hub
    var frontier = hub
    val counts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    counts += hub.agg(lit(0L).as("hops"), count(lit(1)).as("n_nodes"))
    for (h <- 1 to hops) {
      // checkpoint each frontier (LAZY — materializes at the first
      // action, not at plan construction): the per-hop count aggregates
      // and the next hop's joins would otherwise re-execute the whole
      // chained frontier/visited lineage per consumer (measured
      // 10.7 s → ~3 s at sf0.1); frontiers stay distributed — only the
      // LINEAGE is cut
      frontier = edges.join(frontier, $"src" === $"node")
        .select($"dst".as("node")).distinct()
        .join(visited.select($"node".as("v")), $"node" === $"v", "left_anti")
        .localCheckpoint(false)
      visited = visited.unionAll(frontier)
      counts += frontier.agg(lit(h.toLong).as("hops"), count(lit(1)).as("n_nodes"))
    }
    materializeAndRelease(spark,
      counts.reduce(_ unionAll _).orderBy($"hops"), edges)
  }

  /** Link prediction over the co-purchase graph: for every non-edge
    * node pair at distance 2, the common-neighbour count and Jaccard
    * neighbourhood overlap — the classic "customers also bought"
    * candidate scorer. Common neighbours come from one length-2 path
    * join (edges ⋈ edges on the middle node — Σ deg² pairs, the same
    * bound as the wedge count in q58); existing edges drop via a
    * left-anti join and degrees attach by SHUFFLED-hash join on the
    * node key — the degree table has one row per distinct node, so it
    * grows with the corpus and must never be broadcast (a hint that is
    * free at sf1 is a multi-GB driver collect at 100×; the candidate
    * side hash-partitions on n1/n2 instead). All counts are exact integers; the
    * only double is the final Jaccard ratio. Top-20 by common
    * neighbours with a (n1, n2) tie-break keeps the output bounded. */
  def q130LinkPrediction(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
    val cn = edges.select($"src".as("n1"), $"dst".as("w"))
      .join(edges.select($"src".as("w"), $"dst".as("n2")), "w")
      .filter($"n1" < $"n2")
      .groupBy($"n1", $"n2").agg(count(lit(1)).as("common_nbrs"))
    val cand = cn.join(pairs.select($"a".as("n1"), $"b".as("n2")),
      Seq("n1", "n2"), "left_anti")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    cand
      .join(deg.select($"src".as("n1"), $"deg".as("d1")).hint("shuffle_hash"),
        "n1")
      .join(deg.select($"src".as("n2"), $"deg".as("d2")).hint("shuffle_hash"),
        "n2")
      .select($"n1", $"n2", $"common_nbrs",
        ($"d1" + $"d2" - $"common_nbrs").as("union_deg"))
      .withColumn("jaccard",
        $"common_nbrs".cast("double") / $"union_deg".cast("double"))
      .orderBy($"common_nbrs".desc, $"n1", $"n2")
      .limit(k)
  }

  /** CUSUM changepoint candidates over the daily-revenue series — the
    * offline twin of q84's drift monitor: the day k maximizing
    * |n·P_k − k·S| (P = prefix sum, S = total) is the max-likelihood
    * single changepoint of a mean-shift model, scaled by n to stay in
    * EXACT integers (no mean, no division). Day totals aggregate
    * distributed (integer cents, map-side combinable); the ordered
    * prefix sum runs over the ~n_days rows — bounded by the calendar,
    * not the fact table, at any scale. Top-5 by score with a day
    * tie-break. */
  def q131Changepoint(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      expr("cast(sum(cast(cents as decimal(38,0))) as decimal(38,0))").as("total_cents"))
    val w = Window.orderBy($"day")
    daily
      .withColumn("k", row_number().over(w).cast("bigint"))
      .withColumn("pfx", sum(expr("cast(cents as decimal(38,0))"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("_score", expr(
        "abs(cast(n_days as decimal(38,0)) * pfx - cast(k as decimal(38,0)) * total_cents)"))
      // rank on the NUMERIC score; the exact-text cast happens after
      // the limit (a string orderBy would be lexicographic)
      .orderBy($"_score".desc, $"day")
      .limit(k)
      .select($"day", $"k", expr("cast(pfx as bigint)").as("prefix_cents"),
        $"_score".cast("string").as("score"))
  }

  /** Wilcoxon signed-rank test (paired, per market segment): did
    * per-customer spend shift from 1995 to 1996? Midranks of |diff|
    * are computed on the DISTINCT-value cells (group → cell counts →
    * two-phase prefix sum via [[CorpusPipeline.prefixSumExclusive]]),
    * so no corpus-growing serial window exists anywhere in the plan —
    * the rank of a cell is (count of strictly smaller elements) and
    * the midrank doubles to the EXACT integer 2·lt + c + 1. Emitted
    * statistics are exact integers at 2× scale (W⁺ + W⁻ = n(n+1)/2
    * by construction, a built-in self-check). */
  def q132Wilcoxon(spark: SparkSession, dir: String): DataFrame = {
    val y = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1997-01-01").cast("date"))
      .select($"o_custkey", year($"o_orderdate").as("yr"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"o_custkey")
      .agg(
        sum(when($"yr" === 1995, $"cents")).as("c95"),
        sum(when($"yr" === 1996, $"cents")).as("c96"))
      .filter($"c95".isNotNull && $"c96".isNotNull && $"c95" =!= $"c96")
    val d = y.join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), ($"c96" - $"c95").as("diff"),
        abs($"c96" - $"c95").as("adiff"))
    val cells = d.groupBy($"seg", $"adiff")
      .agg(count(lit(1)).as("c_tot"),
        sum(when($"diff" > 0, 1L).otherwise(0L)).as("c_pos"))
    val ranked = CorpusPipeline.prefixSumExclusive(cells, "seg",
      Seq($"adiff"), "c_tot", "_lt", CorpusPipeline.equiWidthBucket(cells, "adiff"))
    ranked.groupBy($"seg")
      .agg(sum($"c_tot").as("n"),
        sum($"c_pos" * (lit(2L) * $"_lt" + $"c_tot" + 1L)).as("w_plus_x2"))
      .select($"seg", $"n", $"w_plus_x2",
        ($"n" * ($"n" + 1L) - $"w_plus_x2").as("w_minus_x2"))
      .orderBy($"seg")
  }

  /** AUC by the rank statistic (Mann–Whitney U / n⁺n⁻): how well does
    * the event `value` separate purchases from non-purchases, per day
    * of week. Same cell-based midrank machinery as q132 — distinct
    * (dow, value) cells carry positive/total counts, the two-phase
    * prefix sum ranks them without a serial window, and
    * 2U = Σ c⁺·(2·lt + c + 1) − n⁺(n⁺+1) stays an exact integer
    * (midranks handle tied scores exactly like the textbook AUC).
    * The only double is the single edge division. */
  def q133Auc(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .select(expr("cast(dayofweek(cast(ts as date)) - 1 as bigint)").as("dow"),
        $"value", ($"event_type" === "purchase").as("pos"))
    val cells = b.groupBy($"dow", $"value")
      .agg(count(lit(1)).as("c_tot"),
        sum(when($"pos", 1L).otherwise(0L)).as("c_pos"))
    val ranked = CorpusPipeline.prefixSumExclusive(cells, "dow",
      Seq($"value"), "c_tot", "_lt", expr("cast(floor(value) as bigint)"))
    ranked.groupBy($"dow")
      .agg(sum($"c_pos" * (lit(2L) * $"_lt" + $"c_tot" + 1L)).as("smr2"),
        sum($"c_pos").as("n_pos"),
        sum($"c_tot" - $"c_pos").as("n_neg"))
      .select($"dow", $"n_pos", $"n_neg",
        ($"smr2" - $"n_pos" * ($"n_pos" + 1L)).as("u_x2"))
      .withColumn("auc", expr("cast(u_x2 as double) / (2.0 * n_pos * n_neg)"))
      .orderBy($"dow")
  }

  /** Two-sample variance-ratio F test per nation: are URGENT order
    * totals more dispersed than LOW ones? Sample variances come from
    * exact sufficient statistics (n·Σx² − S², integer cents in
    * DECIMAL(38)), so F = (SS_a·n_b·(n_b−1)) / (SS_b·n_a·(n_a−1)) is
    * a ratio of two exact integers — one edge division, no
    * intermediate float. Single scan, 25 groups, map-side partial
    * aggregation; the customer→nation dim joins broadcast. */
  def q135VarRatio(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name",
        ($"o_orderpriority" === "1-URGENT").as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    o.groupBy($"n_name")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("n_a"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("n_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0))"))).as("s_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0))"))).as("s_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_b"))
      .filter($"n_a" >= 2 && $"n_b" >= 2)
      .withColumn("ss_a", expr("cast(n_a * q_a - s_a * s_a as decimal(38,0))"))
      .withColumn("ss_b", expr("cast(n_b * q_b - s_b * s_b as decimal(38,0))"))
      .filter($"ss_b" > 0)
      .select($"n_name", $"n_a", $"n_b",
        $"ss_a".cast("string").as("ss_a"), $"ss_b".cast("string").as("ss_b"),
        expr("cast(cast(ss_a * n_b * (n_b - 1) as decimal(38,0)) as double) / " +
          "cast(cast(ss_b * n_a * (n_a - 1) as decimal(38,0)) as double)").as("f_ratio"))
      .orderBy($"n_name")
  }

  /** Two-sample Cramér–von Mises statistic per region (URGENT vs LOW
    * order totals): U = n·Σ_A(r_i−i)² + m·Σ_B(s_j−j)² over combined
    * midranks r and within-sample indices i. Everything runs on
    * distinct-value cells: the combined midrank×2 is 2·ltC + c + 1
    * and within a tie cell the sample indices are the consecutive run
    * ltS+1..ltS+c_s, so the cell's Σ(2r−2i)² has the closed form
    * c·a² − 2a·c(c+1) + 2·(c(c+1)(2c+1) div 3) with a = 2r − 2·ltS —
    * exact integers end to end (U is emitted at 4× scale). Three
    * two-phase prefix sums over the same cell table; no serial
    * window. The tie-handling (midranks; per-cell index runs) is
    * pinned by the oracle, whose per-row window form provably sums to
    * the same integers. */
  def q134Cvm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", ($"o_orderpriority" === "1-URGENT").as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val cells = o.groupBy($"r_name", $"cents")
      .agg(count(lit(1)).as("c_tot"),
        sum(when($"is_a", 1L).otherwise(0L)).as("c_a"))
      .withColumn("c_b", $"c_tot" - $"c_a")
    val bkt = CorpusPipeline.equiWidthBucket(cells, "cents")
    val ranked = CorpusPipeline.prefixSumsExclusive(cells, "r_name", Seq($"cents"),
        Seq("c_tot" -> "_ltC", "c_a" -> "_ltA", "c_b" -> "_ltB"), bkt)
      .withColumn("mr2", lit(2L) * $"_ltC" + $"c_tot" + 1L)
    // closed-form Σ_{d=1..c}(a−2d)² per tie cell, in DECIMAL(38)
    def cellTerm(c: String, lt: String): org.apache.spark.sql.Column = expr(
      s"""cast($c as decimal(38,0)) * (mr2 - 2 * $lt) * (mr2 - 2 * $lt)
         | - 2 * cast(mr2 - 2 * $lt as decimal(38,0)) * $c * ($c + 1)
         | + 2 * (cast($c as decimal(38,0)) * ($c + 1) * (2 * $c + 1) div 3)""".stripMargin)
    ranked.groupBy($"r_name")
      .agg(sum($"c_a").as("n_a"), sum($"c_b").as("n_b"),
        sum(cellTerm("c_a", "_ltA")).as("t_a"),
        sum(cellTerm("c_b", "_ltB")).as("t_b"))
      // n·Σ(rank diff)² is cubic in group size (measured ×7200 per SF
      // decade) — exact decimal TEXT at the output edge
      .withColumn("u_x4", expr("cast(n_a * t_a + n_b * t_b as string)"))
      .select($"r_name", $"n_a", $"n_b", $"u_x4")
      // every divisor/dividend is an exact integer cast to double at the
      // edge — a bare 4.0*… literal would be DECIMAL arithmetic in the
      // oracle dialect and round differently
      .withColumn("t_stat", expr(
        "cast(u_x4 as double) / cast(cast(4 * n_a as decimal(38,0)) * n_b * (n_a + n_b) as double) " +
          "- cast(cast(4 * n_a as decimal(38,0)) * n_b - 1 as double) / cast(6 * (n_a + n_b) as double)"))
      .orderBy($"r_name")
  }

  /** Truncated EMA weights at α=1/4, scale 4⁸ (w_i = 4⁷⁻ⁱ·3ⁱ): the
    * exact-integer smoothing kernel q100 established; Σw = 58975. */
  private[graft] val HoltW1: Array[Long] =
    Array.tabulate(8)(i => (1L << (2 * (7 - i))) * math.pow(3, i).toLong)
  /** Self-convolution of [[HoltW1]] — the kernel of EMA∘EMA (Brown's
    * double smoothing), scale 4¹⁶, Σ = 58975². */
  private[graft] val HoltConv: Array[Long] = Array.tabulate(15) { j =>
    (math.max(0, j - 7) to math.min(7, j)).map(i => HoltW1(i) * HoltW1(j - i)).sum
  }
  private[graft] val HoltNorm = 58975L
  /** Dividend shift for the forecast's exact integer quotient: must
    * exceed |forecast| in cents — 10¹³ covers $100B/day groups. */
  private[graft] val HoltShift = 10000000000000L

  /** Brown's double-exponential-smoothing forecast (Holt-style level +
    * trend from one smoothing constant): forecast = 2s₁ − s₂ +
    * (α/(1−α))(s₁−s₂) = (7·s₁ − 4·s₂)/3 at α=1/4. Both smoothings are
    * the TRUNCATED 8-term integer kernel (q100's float-parity device),
    * so s₂'s kernel is the 15-term self-convolution and the forecast
    * numerator 7·S₁·N − 4·S₂ is an exact DECIMAL(38) integer (N =
    * 58975, the truncated kernel mass), emitted with the forecast as
    * an exact milli-cent integer quotient. Per-priority lag windows
    * are calendar-bounded — serial by design like q75/q100. */
  def q136Holt(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", $"o_orderdate".cast("date").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    def kernel(ws: Array[Long]): org.apache.spark.sql.Column =
      ws.zipWithIndex.map { case (wt, i) =>
        val x = if (i == 0) $"cents" else lag($"cents", i).over(w)
        x.cast("decimal(38,0)") * wt
      }.reduce(_ + _)
    daily
      .withColumn("s1_num", kernel(HoltW1))
      .withColumn("s2_num", kernel(HoltConv))
      .withColumn("_guard", lag($"cents", 14).over(w))
      .filter($"_guard".isNotNull)
      .withColumn("holt_num", expr(
        s"cast(7 * s1_num * $HoltNorm - 4 * s2_num as decimal(38,0))"))
      // forecast in exact milli-cents via the +G-shifted integer quotient
      // (trunc == floor once the dividend is non-negative — the same
      // ulp-proof device as sim_silhouette; a decimal→double cast of the
      // >2^53 numerator is 1-ulp unstable across engines)
      .select($"o_orderpriority", $"day", $"cents",
        $"holt_num".cast("string").as("holt_num"),
        expr(s"(holt_num + cast(${HoltShift} as decimal(38,0)) * ${3 * HoltNorm * HoltNorm}) " +
          s"* 1000 div ${3 * HoltNorm * HoltNorm} - ${1000L * HoltShift}")
          .as("holt_milli"))
      .orderBy($"o_orderpriority", $"day")
  }

  /** Theil–Sen robust trend per nation: the (lower-)median of all
    * pairwise monthly-revenue slopes. Slopes are single divisions of
    * exact integers (cent diff / month gap) — bit-identical doubles in
    * both engines; the discrete median picks position (n+1) div 2, so
    * no float interpolation ever mixes two values. The pair join is
    * calendar²-bounded (≤ 80 months ⇒ ≤ 3.2k pairs per nation at ANY
    * fact-table scale) with the month table broadcast — the same
    * bound-by-the-calendar argument as q118/q120. */
  def q137TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long").as("m"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val b = monthly.select($"n_name".as("n2"), $"m".as("m2"), $"cents".as("c2"))
    val pairs = monthly.join(broadcast(b), $"n_name" === $"n2" && $"m" < $"m2")
      .withColumn("slope", expr("cast(c2 - cents as double) / (m2 - m)"))
    val wN = Window.partitionBy($"n_name")
    pairs
      .withColumn("rn", row_number().over(wN.orderBy($"slope")))
      .withColumn("n_pairs", count(lit(1)).over(wN))
      .filter($"rn" === expr("(n_pairs + 1) div 2"))
      .select($"n_name", $"n_pairs", $"slope".as("sen_slope"))
      .orderBy($"n_name")
  }

  /** k-core peeling on the co-purchase graph, 3 unrolled rounds: drop
    * every node of degree < k, induce, repeat — the standard dense-
    * subgraph carve (community cores, spam-ring detection). Each round
    * is one degree aggregation + two semi-joins on the shrinking edge
    * set, all distributed; 3 rounds is the unrolled-iteration idiom
    * q57/q126 established (a fixpoint loop would re-plan per round —
    * at scale you run a fixed round budget per pass). Output is the
    * per-round summary (surviving nodes/edges), exact integers. */
  def q139Kcore(spark: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 3): DataFrame = {
    // checkpoint the shrinking edge set once per round: every round has
    // three consumers (degree agg, edge count, node count) and feeds the
    // next round — without the lineage cut each consumer re-runs the
    // whole basket expansion per round (measured 9.6 s → ~1 s at sf0.1).
    // LAZY checkpoints: materialization happens at the first action, not
    // at plan construction (an .explain() or failed Verify must not pay
    // the full expansion as a side effect)
    var edges = copurchaseEdges(spark, dir).localCheckpoint(false)
    val summaries = (1 to rounds).map { r =>
      val deg = edges.select($"a".as("node")).unionAll(edges.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter($"deg" >= k).select($"node")
      edges = edges
        .join(keep.select($"node".as("a")), "a", "left_semi")
        .join(keep.select($"node".as("b")), "b", "left_semi")
        .select($"a", $"b")
        .localCheckpoint(false)
      val eCount = edges.agg(count(lit(1)).as("n_edges"))
      val nCount = edges.select($"a".as("node")).unionAll(edges.select($"b".as("node")))
        .agg(countDistinct($"node").as("n_nodes"))
      eCount.crossJoin(nCount).select(lit(r).cast("long").as("round"),
        $"n_nodes", $"n_edges")
    }
    summaries.reduce(_ unionAll _).orderBy($"round")
  }

  /** Moving-range control chart (the individuals/MR SPC pair) per order
    * priority: MR_t = |x_t − x_{t−1}| over the daily-revenue series, a
    * point is out-of-control when MR_t exceeds 3.267·MR̄ — tested as the
    * exact integer cross-multiply 1000·MR_t·n > 3267·ΣMR, so no float
    * ever sits on the control limit. Windows are calendar-bounded (≤ a
    * few thousand days per priority at ANY fact scale — the q118/q131
    * argument); the daily pre-aggregation is where the fact table
    * collapses, map-side combinable. */
  def q138ControlChart(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", $"o_orderdate".cast("date").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val wP = Window.partitionBy($"o_orderpriority")
    daily
      .withColumn("mr", abs($"cents" - lag($"cents", 1).over(w)))
      .filter($"mr".isNotNull)
      .withColumn("n_mr", count(lit(1)).over(wP))
      .withColumn("sum_mr", sum($"mr").over(wP))
      .groupBy($"o_orderpriority")
      .agg(max($"n_mr").as("n_mr"),
        max($"sum_mr").as("sum_mr"),
        max($"mr").as("max_mr"),
        sum(when(
          expr("cast(mr as decimal(38,0)) * 1000 * n_mr > cast(sum_mr as decimal(38,0)) * 3267"),
          1L).otherwise(0L)).as("n_ooc"))
      .orderBy($"o_orderpriority")
  }

  /** Modularity of the brand partition over the co-purchase graph: is
    * "same brand" a community structure? Q = Σ_c [e_c/m − (d_c/2m)²]
    * emitted per community at the exact-integer 4m² scale:
    * q_term = 4m·e_c − d_c² (DECIMAL(38,0) — degree sums square past
    * 2⁶³ on web-scale graphs). One edge materialization feeds three
    * brand-keyed aggregates; the part→brand map and the 1-row m total
    * broadcast. */
  def q140Modularity(spark: SparkSession, dir: String): DataFrame = {
    val brandOf = Tables.part(spark, dir).select($"p_partkey", $"p_brand")
    val lab = copurchaseEdges(spark, dir)
      .join(broadcast(brandOf.select($"p_partkey".as("a"), $"p_brand".as("brand_a"))), "a")
      .join(broadcast(brandOf.select($"p_partkey".as("b"), $"p_brand".as("brand_b"))), "b")
    val m = lab.agg(count(lit(1)).as("m_edges"))
    val dc = lab.select($"brand_a".as("brand")).unionAll(lab.select($"brand_b".as("brand")))
      .groupBy($"brand").agg(count(lit(1)).as("deg_sum"))
    val ec = lab.filter($"brand_a" === $"brand_b")
      .groupBy($"brand_a".as("brand")).agg(count(lit(1)).as("intra_edges"))
    dc.join(ec, Seq("brand"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .select($"brand", $"deg_sum", $"intra_edges", $"m_edges",
        expr("cast(cast(4 as decimal(38,0)) * m_edges * intra_edges - cast(deg_sum as decimal(38,0)) * deg_sum as string)")
          .as("q_term_scaled"))
      .orderBy($"brand")
  }

  /** Haar wavelet detail energy of the global daily-revenue series,
    * levels 1–3 — the multiresolution decomposition behind change/
    * seasonality screens. The level-l detail coefficient is a signed
    * sum of 2^l consecutive daily values (sign = parity of
    * idx div 2^(l−1)), so each level is ONE map-side-combinable
    * groupBy over the calendar-bounded daily table — no per-level
    * sequential pass, no window beyond the calendar-sized index.
    * Incomplete trailing blocks are dropped (count < 2^l). Energies
    * are exact DECIMAL(38,0) sums of squared integer cents. */
  def q141Haar(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    // calendar-bounded global index (≤ a few thousand rows at any SF)
    val idx = daily.withColumn("idx",
      row_number().over(Window.orderBy($"day")) - 1)
    val levels = (1 to 3).map { l =>
      val blk = 1 << l; val half = 1 << (l - 1)
      idx.groupBy(expr(s"idx div $blk").as("blk"))
        .agg(count(lit(1)).as("n_in"),
          sum(expr(s"CASE WHEN (idx div $half) % 2 = 0 THEN cast(cents as decimal(38,0)) " +
            "ELSE cast(-cents as decimal(38,0)) END")).as("d"))
        .filter($"n_in" === blk)
        .agg(count(lit(1)).as("n_coeffs"),
          sum(expr("cast(d * d as decimal(38,0))")).as("energy"),
          max(abs($"d")).as("max_abs_d"))
        .select(lit(l).cast("long").as("level"), $"n_coeffs",
          expr("cast(energy as string)").as("energy"),
          expr("cast(max_abs_d as bigint)").as("max_abs_d"))
    }
    levels.reduce(_ unionAll _).orderBy($"level")
  }

  /** Cross-correlation function between two daily revenue series
    * (1-URGENT vs 5-LOW priorities) at lags 0..7 days — the
    * lead/lag-discovery primitive between two streams. Emitted as
    * exact sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² and the
    * cross-multiplied correlation numerator/variance terms, all
    * DECIMAL(38,0)) — no sqrt, no division, the q103/q122 discipline.
    * The 8-row lag table broadcasts; the join key is the shifted
    * calendar day, so work is bounded by 8× the calendar. */
  def q142Ccf(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def series(p: String, dcol: String, vcol: String) =
      o.filter($"o_orderpriority" === p)
        .groupBy($"o_orderdate".cast("date").as(dcol))
        .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
          .as(vcol))
    val x = series("1-URGENT", "dx", "x")
    val y = series("5-LOW", "dy", "y")
    val lags = spark.range(0, 8).select($"id".cast("int").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, expr("dy = date_add(dx, lag)"))
      .groupBy($"lag".cast("long").as("lag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sx2"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("sy2"))
      .select($"lag", $"n",
        expr("cast(sx as bigint)").as("sx"),
        expr("cast(sy as bigint)").as("sy"),
        expr("cast(n * sxy - sx * sy as string)").as("corr_num"),
        expr("cast(n * sx2 - sx * sx as string)").as("varx_num"),
        expr("cast(n * sy2 - sy * sy as string)").as("vary_num"))
      .orderBy($"lag")
  }

  /** McNemar paired test per market segment: did customer activity
    * CHANGE between 1995 and 1996? The 2×2 pairs table (active both
    * years / 95-only / 96-only / neither) in exact integers, the
    * discordant-pair statistic (b−c)²/(b+c) emitted as exact
    * numerator/denominator plus ONE edge division (NULL when b+c=0).
    * Year-activity sets are distinct-custkey projections joined back
    * to the customer dim — map-side combinable, no window. */
  def q143Mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def active(yr: Int) = o.filter(expr(s"year(o_orderdate) = $yr"))
      .select($"o_custkey".as("c_custkey")).distinct()
    Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
      .join(active(1995).withColumn("y95", lit(1L)), Seq("c_custkey"), "left")
      .join(active(1996).withColumn("y96", lit(1L)), Seq("c_custkey"), "left")
      .na.fill(0L, Seq("y95", "y96"))
      .groupBy($"c_mktsegment")
      .agg(
        sum(expr("CASE WHEN y95 = 1 AND y96 = 1 THEN 1 ELSE 0 END")).as("n_both"),
        sum(expr("CASE WHEN y95 = 1 AND y96 = 0 THEN 1 ELSE 0 END")).as("n_95_only"),
        sum(expr("CASE WHEN y95 = 0 AND y96 = 1 THEN 1 ELSE 0 END")).as("n_96_only"),
        sum(expr("CASE WHEN y95 = 0 AND y96 = 0 THEN 1 ELSE 0 END")).as("n_neither"))
      .withColumn("mcnemar_num",
        expr("cast(cast(n_95_only - n_96_only as decimal(38,0)) * (n_95_only - n_96_only) as bigint)"))
      .withColumn("mcnemar_den", expr("n_95_only + n_96_only"))
      .withColumn("mcnemar_stat", expr(
        "CASE WHEN mcnemar_den = 0 THEN NULL " +
          "ELSE cast(mcnemar_num as double) / cast(mcnemar_den as double) END"))
      .orderBy($"c_mktsegment")
  }

  /** Odds ratio and relative risk per nation for the 2×2 of
    * exposure = high account balance (≥ 5000) × outcome = placed a
    * 1-URGENT order — the epidemiology/AB-analysis contingency
    * readout. All four cells are exact integers off one customer
    * scan (the urgent-customer set is a distinct projection joined
    * back); OR and RR are emitted as exact integer num/den pairs
    * plus one edge division each (NULL on zero denominators). */
  def q144OddsRatio(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c_custkey")).distinct()
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(urgent.withColumn("outc", lit(1L)), Seq("c_custkey"), "left")
      .na.fill(0L, Seq("outc"))
      .withColumn("expd", expr("CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END"))
      .groupBy($"n_name")
      .agg(
        sum(expr("CASE WHEN expd = 1 AND outc = 1 THEN 1 ELSE 0 END")).as("n_eo"),
        sum(expr("CASE WHEN expd = 1 AND outc = 0 THEN 1 ELSE 0 END")).as("n_en"),
        sum(expr("CASE WHEN expd = 0 AND outc = 1 THEN 1 ELSE 0 END")).as("n_uo"),
        sum(expr("CASE WHEN expd = 0 AND outc = 0 THEN 1 ELSE 0 END")).as("n_un"))
      .withColumn("or_num", expr("cast(cast(n_eo as decimal(38,0)) * n_un as bigint)"))
      .withColumn("or_den", expr("cast(cast(n_en as decimal(38,0)) * n_uo as bigint)"))
      .withColumn("odds_ratio", expr(
        "CASE WHEN or_den = 0 THEN NULL ELSE cast(or_num as double) / cast(or_den as double) END"))
      .withColumn("rr_num", expr("cast(cast(n_eo as decimal(38,0)) * (n_uo + n_un) as bigint)"))
      .withColumn("rr_den", expr("cast(cast(n_uo as decimal(38,0)) * (n_eo + n_en) as bigint)"))
      .withColumn("rel_risk", expr(
        "CASE WHEN rr_den = 0 THEN NULL ELSE cast(rr_num as double) / cast(rr_den as double) END"))
      .orderBy($"n_name")
  }

  /** Log-rank test: does the BUILDING segment churn on a different
    * survival curve than everyone else? The two-group companion to
    * q121's Kaplan–Meier — per event time the risk sets and death
    * counts (total and group-1) are exact integers from the same
    * prefix-subtraction that built q121's n_at_risk; the running
    * O−E numerator and hypergeometric variance are ORDERED cumulative
    * float sums (each term is a fixed left-to-right chain of exact-int
    * doubles — the q119 device, identical expression text in both
    * engines). Windows are week-bounded (≤ calendar/7 rows at any
    * fact-table scale). */
  def q145Logrank(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first_day"),
        max(to_date($"o_orderdate")).as("last_day"))
    val cutoff = Tables.orders(spark, dir)
      .agg(date_sub(max(to_date($"o_orderdate")), 56).as("cutoff"))
    val seg = Tables.customer(spark, dir)
      .select($"c_custkey", ($"c_mktsegment" === "BUILDING").cast("int").as("g1"))
    val life = perCust.join(seg, $"o_custkey" === $"c_custkey")
      .crossJoin(broadcast(cutoff))
      .select(expr("datediff(last_day, first_day) div 7").as("t"),
        ($"last_day" <= $"cutoff").cast("int").as("event"), $"g1")
    val byT = life.groupBy($"t")
      .agg(count(lit(1)).as("m"), sum($"g1").as("m1"),
        sum($"event").as("d"), sum($"event" * $"g1").as("d1"))
    val tot = life.agg(count(lit(1)).as("n_total"), sum($"g1").as("n1_total"))
    val wPrior = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, 0)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk", $"n_total" - coalesce(sum($"m").over(wPrior), lit(0L)))
      .withColumn("n1_risk", $"n1_total" - coalesce(sum($"m1").over(wPrior), lit(0L)))
      .filter($"d" > 0)
      .withColumn("e1_term", expr("cast(d as double) * n1_risk / n_risk"))
      .withColumn("v_term", expr(
        "CASE WHEN n_risk <= 1 THEN cast(0 as double) ELSE " +
          "cast(d as double) * n1_risk / n_risk * (n_risk - n1_risk) / n_risk " +
          "* (n_risk - d) / (n_risk - 1) END"))
      .withColumn("o_minus_e_cum",
        sum(expr("cast(d1 as double) - e1_term")).over(wCum))
      .withColumn("var_cum", sum($"v_term").over(wCum))
      .select($"t".as("t_weeks"), $"n_risk", $"n1_risk",
        $"d".as("n_events"), $"d1".as("n_events_g1"),
        $"o_minus_e_cum", $"var_cum")
      .orderBy($"t_weeks")
  }

  /** Brown–Forsythe/Levene variance-homogeneity inputs per market
    * segment: absolute deviations from the GROUP MEDIAN of account
    * balance (robust variant), emitted as exact integer sufficient
    * statistics (n, median cents, Σz, Σz² — consumers form W).
    * The median is an exact lower order statistic found by the
    * distributed two-phase prefix sum over value-grouped counts —
    * no per-group serial window (q104's machinery verbatim). */
  def q146Levene(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.customer(spark, dir)
      .select($"c_mktsegment",
        expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)").as("cents"))
    val byValue = vals.groupBy($"c_mktsegment", $"cents").agg(count(lit(1)).as("w"))
    val tot = byValue.groupBy($"c_mktsegment").agg(sum($"w").as("n"))
    val med = CorpusPipeline.prefixSumExclusive(byValue, "c_mktsegment",
        Seq($"cents"), "w", "cw_excl",
        CorpusPipeline.equiWidthBucket(vals.select($"cents"), "cents"))
      .join(broadcast(tot), "c_mktsegment")
      .filter(($"cw_excl" + $"w") * 2 >= $"n")
      .groupBy($"c_mktsegment").agg(min($"cents").as("med_cents"))
    vals.join(broadcast(med), "c_mktsegment")
      .withColumn("z", abs($"cents" - $"med_cents"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        max($"med_cents").as("med_cents"),
        sum($"z").as("sum_z"),
        // exact-decimal STRING path (r8): sum_z2 grows ~SF^1 with the
        // shortest runway of the computed statistics (sf1 audit:
        // ~3.0e3xSF to 2^63 as bigint) — emitted as the decimal's
        // digits so no deployment SF can overflow the output edge
        expr("cast(sum(cast(z as decimal(38,0)) * z) as string)").as("sum_z2"))
      .orderBy($"c_mktsegment")
  }

  /** Concurrent open orders per day — the interval-stabbing staple
    * (active sessions, stock on loan, connections open). Each order
    * contributes +1 at its start and −1 at start+30d; the daily net is
    * one map-side-combinable aggregate and the running count is a
    * calendar-bounded prefix sum — NO row-per-(order×day) expansion
    * and no interval self-join, which is what makes this shape hold
    * at 100 TB. */
  def q147OpenOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(to_date($"o_orderdate").as("sd"))
    val deltas = o.select($"sd".as("day"), lit(1L).as("delta"))
      .unionAll(o.select(date_add($"sd", 30).as("day"), lit(-1L).as("delta")))
      .groupBy($"day").agg(sum($"delta").as("net"))
    val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
    deltas.withColumn("n_open", sum($"net").over(w))
      .select($"day", $"net", $"n_open")
      .orderBy($"day")
  }

  /** Q–Q table at decile resolution between the URGENT and LOW order-
    * total distributions — the distribution-shift readout behind KS
    * (q108) when you want WHERE the distributions diverge, not just
    * how much. Each decile is the exact lower order statistic at rank
    * ⌈n·q/10⌉, tested as the integer cross-multiply 10·cum ≥ q·n over
    * two-phase prefix-summed value counts — no global ntile, no
    * interpolation. */
  /** q148's (value frame keyed by grp, bucket column) — shared by the
    * operator and [[orderStatBucketMass]] (no-drift audit). */
  private[graft] def q148ValuesBucketed(spark: SparkSession,
      dir: String): (DataFrame, Column) = {
    val base = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select($"o_orderpriority".as("grp"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val byValue = base.groupBy($"grp", $"cents").agg(count(lit(1)).as("w"))
    (byValue, CorpusPipeline.equiWidthBucket(base.select($"cents"), "cents"))
  }

  def q148QqDecile(spark: SparkSession, dir: String): DataFrame = {
    val (byValue, bkt) = q148ValuesBucketed(spark, dir)
    val tot = byValue.groupBy($"grp").agg(sum($"w").as("n"))
    val qs = spark.range(1, 10).select($"id".as("q"))
    val stats = CorpusPipeline.prefixSumExclusive(byValue, "grp",
        Seq($"cents"), "w", "cw_excl", bkt)
      .join(broadcast(tot), "grp")
      .crossJoin(broadcast(qs))
      .filter(($"cw_excl" + $"w") * 10 >= $"q" * $"n")
      .groupBy($"grp", $"q").agg(min($"cents").as("qv"))
    stats.filter($"grp" === "1-URGENT").select($"q", $"qv".as("x_cents"))
      .join(stats.filter($"grp" === "5-LOW").select($"q".as("q2"), $"qv".as("y_cents")),
        $"q" === $"q2")
      .select($"q", $"x_cents", $"y_cents", ($"y_cents" - $"x_cents").as("diff_cents"))
      .orderBy($"q")
  }

  /** Sequential-pattern support: adjacent event-type bigrams per user
    * ordered by time, scored by USER support (distinct users whose
    * stream contains a→b) — the sequence-mining statistic, distinct
    * from q56's global transition counts. The lead window is
    * user-keyed (scale-safe); output is bounded by |event types|². */
  def q149SeqPatterns(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("a"), $"next_type".as("b"))
      .agg(countDistinct($"user_id").as("support_users"),
        count(lit(1)).as("n_occurrences"))
      .orderBy($"support_users".desc, $"a", $"b")
      .limit(k)
      .orderBy($"support_users".desc, $"a", $"b")
  }

  /** Classical additive seasonal decomposition, day-of-week profile:
    * trend = centered 7-day moving average of daily revenue (exact
    * milli-cents via integer div — the window sum is exact, and /7 is
    * the ONE division, truncation-safe because revenue is positive),
    * detrended = value − trend, seasonal = per-dow mean of detrended
    * emitted via the +G-shifted integer quotient (detrended sums can
    * be negative; the shift pins trunc = floor in both engines — the
    * q136/sim_silhouette device). Windows are calendar-bounded. */
  def q150SeasonalDow(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val w7 = Window.orderBy($"day").rowsBetween(-3, 3)
    val shift = 1000000000000L // pins the div truncation mode on negatives
    daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sum7", sum($"cents").over(w7))
      .filter($"n7" === 7)
      .withColumn("trend_milli", expr("sum7 * 1000 div 7"))
      .withColumn("det_milli", expr("cents * 1000 - trend_milli"))
      .groupBy((dayofweek($"day") - 1).cast("bigint").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum($"det_milli").as("sum_det_milli"),
        max($"det_milli").as("max_det_milli"))
      .withColumn("seasonal_milli",
        expr(s"(sum_det_milli + cast($shift as bigint) * n_days) div n_days - cast($shift as bigint)"))
      .orderBy($"dow")
  }

  /** Hurst rescaled-range inputs per priority: the range R of cumulative
    * deviations and the variance numerator, both EXACT — the cumulative
    * deviation at step k is the q131 device n·P_k − k·S (no mean, no
    * division), so R_scaled = max−min of exact DECIMAL(38,0) integers at
    * the n× scale and s2_num = n·Σx² − S². Consumers form R/S and the
    * log-log Hurst fit; nothing here floats. The prefix sum is
    * calendar-bounded per priority (the q122 contract). */
  def q151HurstInputs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val tot = daily.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        expr("cast(sum(cast(cents as decimal(38,0)) * cents) as decimal(38,0))").as("sx2"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val devs = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("p", sum($"cents").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(tot.select($"o_orderpriority", $"n", $"s")), "o_orderpriority")
      .withColumn("d", expr("cast(n as decimal(38,0)) * p - cast(k as decimal(38,0)) * s"))
      .groupBy($"o_orderpriority")
      .agg(expr("cast(max(d) - min(d) as decimal(38,0))").as("r_scaled"))
    tot.join(devs, "o_orderpriority")
      // r_scaled is calendar×linear-cents (BIGINT); n·Σx²−S² is a
      // money second moment past 2^63 at bench SF — exact decimal TEXT
      .select($"o_orderpriority", $"n".as("n_days"), $"s".as("sum_cents"),
        $"r_scaled".cast("long").as("r_scaled"),
        expr("cast(cast(n as decimal(38,0)) * sx2 - cast(s as decimal(38,0)) * s as string)")
          .as("s2_num"))
      .orderBy($"o_orderpriority")
  }

  /** Friedman-test rank inputs: weekly revenue blocks × the 5 priority
    * treatments, midranks within each complete block emitted at the
    * exact 2× integer scale (2·#less + #equal + 1 — no half anywhere).
    * The within-block ranking is a self-join on the week key (≤ k²=25
    * pairs per block, bounded by the treatment count, NOT the corpus);
    * per-treatment rank sums are exact integers consumers turn into
    * the χ²_F statistic and Page's L trend. */
  def q152Friedman(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority",
        expr("unix_date(cast(o_orderdate as date)) div 7").as("wk"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val complete = weekly.groupBy($"wk").agg(count(lit(1)).as("np"))
      .filter($"np" === 5).select($"wk")
    val wv = weekly.join(broadcast(complete), "wk")
    val other = wv.select($"wk".as("wk2"), $"cents".as("c2"))
    wv.join(other, $"wk" === $"wk2")
      .groupBy($"o_orderpriority", $"wk")
      .agg((sum(when($"c2" < $"cents", 2L).otherwise(0L))
        + sum(when($"c2" === $"cents", 1L).otherwise(0L)) + lit(1L)).as("r2"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_blocks"), sum($"r2").as("sum_r2"),
        expr("cast(sum(cast(r2 as decimal(38,0)) * r2) as bigint)").as("sum_r2_sq"))
      .withColumn("prio_idx", expr("cast(substring(o_orderpriority, 1, 1) as bigint)"))
      .select($"o_orderpriority", $"prio_idx", $"n_blocks", $"sum_r2", $"sum_r2_sq")
      .orderBy($"o_orderpriority")
  }

  /** Cochran's Q over k=3 repeated binary measurements: was each
    * customer active in 1995/1996/1997? Q's numerator and denominator
    * are EXACT integers off one customer-wide aggregate — column
    * totals G_j, row-total sums ΣL and ΣL² (constant rows cancel
    * algebraically, so no row filter is needed) — and the statistic
    * itself is one edge division. Output is one row per year carrying
    * its G_j plus the shared exact pieces. */
  def q153CochranQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def active(yr: Int) = o.filter(expr(s"year(o_orderdate) = $yr"))
      .select($"o_custkey".as("c_custkey")).distinct()
    val flags = Tables.customer(spark, dir).select($"c_custkey")
      .join(active(1995).withColumn("y95", lit(1L)), Seq("c_custkey"), "left")
      .join(active(1996).withColumn("y96", lit(1L)), Seq("c_custkey"), "left")
      .join(active(1997).withColumn("y97", lit(1L)), Seq("c_custkey"), "left")
      .na.fill(0L, Seq("y95", "y96", "y97"))
      .withColumn("l", expr("y95 + y96 + y97"))
    val g = flags.agg(count(lit(1)).as("n_customers"),
      sum($"y95").as("g95"), sum($"y96").as("g96"), sum($"y97").as("g97"),
      sum($"l").as("sum_l"), sum(expr("l * l")).as("sum_l2"))
    g.select(explode(expr(
        "array(named_struct('year', 1995L, 'g', g95)," +
          " named_struct('year', 1996L, 'g', g96)," +
          " named_struct('year', 1997L, 'g', g97))")).as("e"),
        $"n_customers", $"g95", $"g96", $"g97", $"sum_l", $"sum_l2")
      .select($"e.year".as("year"), $"e.g".as("g"), $"n_customers",
        expr("cast(cast(2 as decimal(38,0)) * (3 * (cast(g95 as decimal(38,0)) * g95" +
          " + cast(g96 as decimal(38,0)) * g96 + cast(g97 as decimal(38,0)) * g97)" +
          " - cast(g95 + g96 + g97 as decimal(38,0)) * (g95 + g96 + g97)) as bigint)").as("q_num"),
        expr("cast(cast(3 as decimal(38,0)) * sum_l - sum_l2 as bigint)").as("q_den"))
      .withColumn("q_stat", expr(
        "CASE WHEN q_den = 0 THEN NULL ELSE cast(q_num as double) / cast(q_den as double) END"))
      .orderBy($"year")
  }

  /** Grubbs outlier-test inputs per priority: the extreme deviation of
    * the daily series in EXACT integers at the n× scale — g_num =
    * max|n·x_t − S| (the q131/q151 no-mean device), the variance
    * numerator n·Σx² − S², and the day that attains the extreme
    * (max_by with a negative-epoch tie-break to the earliest day).
    * Consumers form G = (g_num/n) / sqrt(s2_num/(n(n−1))); nothing
    * here floats. One broadcast of the 5-row totals. */
  def q154GrubbsInputs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val tot = daily.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        expr("cast(sum(cast(cents as decimal(38,0)) * cents) as decimal(38,0))").as("sx2"))
    daily.join(broadcast(tot), "o_orderpriority")
      .withColumn("dev", expr("abs(cast(n as decimal(38,0)) * cents - s)"))
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n_days"), max($"s").as("sum_cents"),
        expr("cast(max(dev) as bigint)").as("g_num"),
        expr("max_by(day, struct(dev, -unix_date(day)))").as("peak_day"),
        expr("cast(max(cast(n as decimal(38,0)) * sx2 - cast(s as decimal(38,0)) * s) as string)")
          .as("s2_num"))
      .orderBy($"o_orderpriority")
  }

  /** Two-level binary segmentation of the daily-revenue series: the
    * global CUSUM argmax (q131's exact |n·P_k − k·S| device) splits the
    * calendar once, then the SAME statistic reruns inside each half
    * with LOCAL totals (n_seg, S_seg) — the unrolled-recursion form of
    * binary segmentation, the standard multi-changepoint detector.
    * Argmaxes are max_by over exact DECIMAL scores with a −k
    * tie-break; the 1-row split point broadcasts. Three rows out. */
  def q155BinarySeg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val w = Window.orderBy($"day")
    val pref = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pfx", sum(expr("cast(cents as decimal(38,0))"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = daily.agg(count(lit(1)).as("n"),
      expr("cast(sum(cast(cents as decimal(38,0))) as decimal(38,0))").as("s"))
    val scored = pref.crossJoin(broadcast(tot))
      .withColumn("score", expr(
        "abs(cast(n as decimal(38,0)) * pfx - cast(k as decimal(38,0)) * s)"))
    val cp1 = scored.filter($"k" < $"n")
      .agg(expr("max_by(named_struct('day', day, 'k', k, 'pfx', pfx), named_struct('s', score, 'mk', -k))").as("b"),
        expr("cast(max(score) as string)").as("score"))
      .select($"b.day".as("cp_day"), $"b.k".as("k1"),
        expr("cast(b.pfx as decimal(38,0))").as("p1"), $"score")
    val withCp = scored.crossJoin(broadcast(cp1))
    val left = withCp.filter($"k" < $"k1")
      .withColumn("lscore", expr(
        "abs(cast(k1 as decimal(38,0)) * pfx - cast(k as decimal(38,0)) * p1)"))
      .agg(lit("left").as("segment"),
        expr("max_by(day, named_struct('s', lscore, 'mk', -k))").as("cp_day"),
        expr("max_by(k, named_struct('s', lscore, 'mk', -k))").as("cp_k"),
        expr("cast(max(lscore) as string)").as("score"))
    val right = withCp.filter($"k" > $"k1" && $"k" < $"n")
      .withColumn("rscore", expr(
        "abs(cast(n - k1 as decimal(38,0)) * (pfx - p1) - cast(k - k1 as decimal(38,0)) * (s - p1))"))
      .agg(lit("right").as("segment"),
        expr("max_by(day, named_struct('s', rscore, 'mk', -k))").as("cp_day"),
        expr("max_by(k, named_struct('s', rscore, 'mk', -k))").as("cp_k"),
        expr("cast(max(rscore) as string)").as("score"))
    val global = cp1.select(lit("all").as("segment"), $"cp_day",
      $"k1".as("cp_k"), $"score")
    global.unionAll(left).unionAll(right)
      // a degenerate sub-segment (argmax at the boundary, or a 1-day
      // series) leaves its global agg as an all-null row — the oracle's
      // LIMIT 1 over the empty set emits NO row; drop to match
      .filter($"cp_k".isNotNull)
      .orderBy($"segment")
  }

  /** Two-way ANOVA sufficient statistics over the priority × day-of-week
    * grid: per-cell n, Σ (exact integer cents) and Σx² (DECIMAL) — the
    * complete input set for main-effect and interaction F statistics
    * (row/column marginals are sums of these cells, so consumers build
    * SS_A/SS_B/SS_AB without re-touching the data). One map-side-
    * combinable aggregate over the daily table; output bounded by
    * 5×7 cells at any fact scale. */
  def q157TwoWayAnova(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
      .groupBy($"o_orderpriority", (dayofweek($"day") - 1).cast("bigint").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum($"cents").as("sum_cents"),
        expr("cast(sum(cast(cents as decimal(38,0)) * cents) as string)").as("sum_sq"))
      .orderBy($"o_orderpriority", $"dow")

  /** CUPED variance-reduction inputs per market segment: the
    * experimentation-platform staple (covariate-adjusted metrics).
    * θ = Cov(pre, post)/Var(pre) is emitted as exact integer
    * numerator/denominator (n·Σxy − ΣxΣy over n·Σx² − (Σx)², all
    * DECIMAL(38,0)) from per-customer 1995 (pre) and 1996 (post)
    * spend — customers missing a year count as zero spend, the
    * standard CUPED treatment. One customer-keyed aggregate after two
    * year-sliced rollups; no window, no float. */
  def q158Cuped(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def spend(y: Int, key: String, out: String) =
      o.filter(expr(s"year(o_orderdate) = $y"))
        .groupBy($"o_custkey")
        .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
          .as(out))
        .select($"o_custkey".as(key), col(out))
    Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
      .join(spend(1995, "ck_x", "x"), $"c_custkey" === $"ck_x", "left")
      .join(spend(1996, "ck_y", "y"), $"c_custkey" === $"ck_y", "left")
      .na.fill(0L, Seq("x", "y"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sum_pre"), sum($"y").as("sum_post"),
        expr("cast(sum(cast(x as decimal(38,0)) * y) as decimal(38,0))").as("sxy"),
        expr("cast(sum(cast(x as decimal(38,0)) * x) as decimal(38,0))").as("sx2"))
      .select($"c_mktsegment", $"n", $"sum_pre", $"sum_post",
        expr("cast(n * sxy - cast(sum_pre as decimal(38,0)) * sum_post as string)")
          .as("theta_num"),
        expr("cast(n * sx2 - cast(sum_pre as decimal(38,0)) * sum_pre as string)")
          .as("theta_den"))
      .orderBy($"c_mktsegment")
  }

  /** Difference-in-differences over the (BUILDING segment) × (1995→1996)
    * panel: 2×2 cells of customer-year spend (n, Σ exact integers) and
    * the DiD estimate as ONE exact rational over the common denominator
    * n11·n10·n01·n00 — no float mean ever forms. Cells treat a customer-
    * year with no orders as zero spend (the balanced-panel convention);
    * the whole query is one customer-keyed aggregate fan-in. */
  def q159DidCells(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def spend(y: Int, key: String, out: String) =
      o.filter(expr(s"year(o_orderdate) = $y"))
        .groupBy($"o_custkey")
        .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
          .as(out))
        .select($"o_custkey".as(key), col(out))
    val cells = Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
      .join(spend(1995, "ck_x", "pre"), $"c_custkey" === $"ck_x", "left")
      .join(spend(1996, "ck_y", "post"), $"c_custkey" === $"ck_y", "left")
      .na.fill(0L, Seq("pre", "post"))
      .withColumn("treated", ($"c_mktsegment" === "BUILDING").cast("int"))
      .select(explode(expr(
        "array(named_struct('period', 0L, 'spend', pre)," +
          " named_struct('period', 1L, 'spend', post))")).as("e"), $"treated")
      .groupBy($"treated".cast("bigint").as("treated"), $"e.period".as("period"))
      .agg(count(lit(1)).as("n"), sum($"e.spend").as("sum_cents"))
    val wide = cells.groupBy()
      .agg(
        max(when($"treated" === 1 && $"period" === 1, $"n")).as("n11"),
        max(when($"treated" === 1 && $"period" === 1, $"sum_cents")).as("s11"),
        max(when($"treated" === 1 && $"period" === 0, $"n")).as("n10"),
        max(when($"treated" === 1 && $"period" === 0, $"sum_cents")).as("s10"),
        max(when($"treated" === 0 && $"period" === 1, $"n")).as("n01"),
        max(when($"treated" === 0 && $"period" === 1, $"sum_cents")).as("s01"),
        max(when($"treated" === 0 && $"period" === 0, $"n")).as("n00"),
        max(when($"treated" === 0 && $"period" === 0, $"sum_cents")).as("s00"))
    cells
      // did_num multiplies a cent sum by THREE cell counts — it passes
      // 2^63 at the bench SF (measured ×795/SF-decade): exact decimal
      // TEXT; did_den (count product) rides along for num/den parity.
      .crossJoin(broadcast(wide.select(
        expr("cast(cast(s11 as decimal(38,0)) * n10 * n01 * n00" +
          " - cast(s10 as decimal(38,0)) * n11 * n01 * n00" +
          " - cast(s01 as decimal(38,0)) * n11 * n10 * n00" +
          " + cast(s00 as decimal(38,0)) * n11 * n10 * n01 as string)").as("did_num"),
        expr("cast(cast(n11 as decimal(38,0)) * n10 * n01 * n00 as string)").as("did_den"))))
      .select($"treated", $"period", $"n", $"sum_cents", $"did_num", $"did_den")
      .orderBy($"treated", $"period")
  }

  /** Seasonal Mann–Kendall: the q118 trend test run WITHIN each
    * day-of-week series (Hirsch–Slack — trend detection robust to
    * weekly seasonality; the per-season S statistics sum and so do the
    * variances). Pair expansion is (calendar/7)²-bounded per dow and
    * broadcast-join expanded at full parallelism like q118; every
    * emitted statistic is an exact integer. */
  def q156MkSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("dow", (dayofweek($"day") - 1).cast("bigint"))
    val later = daily.select($"dow".as("d2"), $"day".as("day2"), $"cents".as("cents2"))
    val s = daily.join(broadcast(later), $"dow" === $"d2" && $"day" < $"day2")
      .groupBy($"dow")
      .agg(sum(when($"cents2" > $"cents", 1L)
        .when($"cents2" < $"cents", -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy($"dow", $"cents").agg(count(lit(1)).as("t"))
      .groupBy($"dow")
      .agg(sum($"t").as("n_days"),
        sum($"t" * ($"t" - 1) * (lit(2L) * $"t" + 5)).as("tie_term"))
    ties.join(s, "dow")
      .select($"dow", $"n_days", $"s_stat",
        ($"n_days" * ($"n_days" - 1) * (lit(2L) * $"n_days" + 5) - $"tie_term")
          .as("var18_num"))
      .orderBy($"dow")
  }

  /** Kruskal–Wallis rank inputs over k = 5 priority groups — the
    * k-sample generalization closing the non-parametric family
    * (Mann–Whitney k=2 → Friedman blocked → THIS unblocked k-group):
    * per group, n_g and the DOUBLED midrank sum 2·R_g = Σ_v a_g(v) ·
    * (2·c_lt(v) + t_v + 1) — doubling keeps tied midranks (x.5)
    * integral, so the whole table is exact (H and the tie correction
    * 1 − Σ(t³−t)/(N³−N) are one float step downstream; tie_sum rides
    * along). Ranks come from the distributed two-phase prefix sum over
    * the DISTINCT value table (never a serial whole-corpus window);
    * the per-(value, group) counts collapse map-side first, so at
    * 100 TB the exchange carries |distinct cents| rows, not orders.
    * Invariant Σ_g 2·R_g = N(N+1) is pinned in the spec. */
  def q160KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(spark, dir)
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        $"o_orderpriority")
      .groupBy($"cents", $"o_orderpriority").agg(count(lit(1)).as("a"))
    val t = d.groupBy($"cents").agg(sum($"a").as("all_n")).withColumn("k", lit(1))
    val cum = CorpusPipeline.prefixSumExclusive(t, "k", Seq($"cents"), "all_n",
      "c_lt", CorpusPipeline.equiWidthBucket(t, "cents"))
    val ties = cum.groupBy()
      .agg(sum($"all_n").as("n_total"),
        sum(expr("cast(all_n as decimal(38,0)) * all_n * all_n - all_n")).as("tie_sum"))
    d.join(cum.select($"cents", $"all_n", $"c_lt"), Seq("cents"))
      .groupBy($"o_orderpriority")
      .agg(sum($"a").as("n_g"),
        sum(expr("cast(a as decimal(38,0)) * (2 * c_lt + all_n + 1)")).as("rs2"))
      .crossJoin(broadcast(ties))
      // rank-sum and tie-sum are N²/N³-class → exact-decimal STRING path
      .select($"o_orderpriority", $"n_g",
        $"rs2".cast("string").as("rank_sum2"),
        $"n_total", $"tie_sum".cast("string").as("tie_sum"))
      .orderBy($"o_orderpriority")
  }

  /** Page's L ORDERED-trend statistic over the Friedman blocks — the
    * blocked sibling of [[q161Jonckheere]] (Friedman asks "do the
    * treatments differ within blocks?", Page asks "do they INCREASE
    * along the given order?"): L = Σ_j j·R_j over the per-priority
    * within-week rank sums [[q152Friedman]] already computes; with the
    * shared DOUBLED midranks, 2L stays integral and its within-block
    * permutation-null mean is b·(k+1)·k(k+1)/2 — emitted alongside so
    * the trend direction is a subtraction away. One 5-row aggregate on
    * top of the Friedman plan; nothing new shuffles. */
  def q163PageTrend(spark: SparkSession, dir: String): DataFrame =
    q152Friedman(spark, dir)
      .agg(count(lit(1)).as("k"), max($"n_blocks").as("n_blocks"),
        sum(expr("cast(prio_idx as decimal(38,0)) * sum_r2")).as("_l2"))
      .select($"k", $"n_blocks",
        $"_l2".cast("string").as("l2"),
        expr("cast(n_blocks * (k + 1) * (k * (k + 1) div 2) as bigint)")
          .as("l2_null_mean"))

  /** Kendall's coefficient of concordance W over the Friedman blocks —
    * the EFFECT-SIZE readout of [[q152Friedman]] (χ²_F says "the
    * priorities differ"; W ∈ [0,1] says HOW STRONGLY the weeks agree
    * on the priority ordering): with the shared DOUBLED midranks,
    * dev = R2_j − b(k+1) is each priority's exact rank-sum deviation,
    * S4 = Σdev² = 4S, and W = 3·S4 / (b²·k·(k²−1)) — every piece an
    * exact integer, the float statistic one edge division away
    * (micro-floored here). The spec pins the χ²_F = b(k−1)·W identity
    * numerically. One 5-row rollup + broadcast on the Friedman plan;
    * nothing new shuffles. */
  def q164KendallW(spark: SparkSession, dir: String): DataFrame = {
    val per = q152Friedman(spark, dir)
      .select($"o_orderpriority", $"prio_idx", $"n_blocks", $"sum_r2",
        ($"sum_r2" - lit(6L) * $"n_blocks").as("dev"))
    val tot = per.agg(count(lit(1)).as("k"), max($"n_blocks").as("b"),
      expr("cast(sum(cast(dev as decimal(38,0)) * dev) as bigint)").as("s4"))
    per.crossJoin(broadcast(tot))
      .select($"o_orderpriority", $"prio_idx", $"n_blocks", $"sum_r2",
        $"dev", $"s4",
        expr("cast(3 * s4 as bigint)").as("w_num"),
        expr("cast(b * b * k * (k * k - 1) as bigint)").as("w_den"),
        expr("cast(cast(3 as decimal(38,0)) * s4 * 1000000" +
          " div (cast(b as decimal(38,0)) * b * k * (k * k - 1)) as bigint)")
          .as("w_micro"))
      .orderBy($"o_orderpriority")
  }

  /** Mood's MEDIAN test inputs over the daily revenue series: does each
    * priority's daily revenue sit above or below the GRAND median of
    * all priority-days? The grand median uses the doubled-median
    * device (m2 = x_(k1) + x_(k2), the sum of the two middle order
    * statistics — exact for even and odd N alike); the order
    * statistics come from the distinct-value count table with the
    * distributed two-phase prefix sum, never a corpus-serial window.
    * Output per priority: the above/below/at-median contingency row
    * (χ² inputs), all exact integers. One value-collapse, one tiny
    * prefix pass, one broadcast of the 1-row m2. */
  def q165MoodMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val byValue = daily.groupBy($"cents").agg(count(lit(1)).as("nv"))
      .withColumn("_k", lit(1))
    val tot = daily.agg(count(lit(1)).as("n_total"))
    val cum = CorpusPipeline.prefixSumExclusive(byValue, "_k",
      Seq($"cents"), "nv", "c_lt",
      CorpusPipeline.equiWidthBucket(daily.select($"cents"), "cents"))
    val med = cum.crossJoin(broadcast(tot))
      .agg(
        min(when($"c_lt" + $"nv" >= expr("(n_total + 1) div 2"), $"cents")).as("v1"),
        min(when($"c_lt" + $"nv" >= expr("n_total div 2 + 1"), $"cents")).as("v2"))
      .select(($"v1" + $"v2").as("m2"))
    daily.crossJoin(broadcast(med))
      .groupBy($"o_orderpriority", $"m2")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"cents" * 2 > $"m2", 1L).otherwise(0L)).as("n_above"),
        sum(when($"cents" * 2 < $"m2", 1L).otherwise(0L)).as("n_below"),
        sum(when($"cents" * 2 === $"m2", 1L).otherwise(0L)).as("n_at"))
      .select($"o_orderpriority", $"n_days", $"n_above", $"n_below",
        $"n_at", $"m2")
      .orderBy($"o_orderpriority")
  }

  /** Page–Hinkley changepoint inputs over the daily revenue series —
    * the ONLINE mean-shift detector (q131's binary-seg is the offline
    * sibling; this is the form a live monitor runs): m_T = Σ_t (x_t −
    * x̄_t) with the running mean as the exact integer x̄_t = cum_t div t
    * (cent-floored — both engines truncate positive div identically),
    * PH_t = m_t − min_{i≤t} m_i, alarm when PH exceeds λ. Output per
    * priority: the final accumulator, its running minimum, the PEAK
    * PH value and the (earliest) day attaining it. All exact integers;
    * windows are the calendar-serial family (ordered per-priority
    * above the day-keyed aggregate, never corpus-serial). The
    * streaming twin [[graft.streaming.Streams.pageHinkleyStream]] is
    * integer-identical (StreamingSpec parity). */
  def q166PageHinkley(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val ph = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("cum", sum($"cents").over(w))
      .withColumn("m", sum($"cents" - expr("cum div t")).over(w))
      .withColumn("runmin", min($"m").over(w))
      .withColumn("ph", $"m" - $"runmin")
    val wPick = Window.partitionBy($"o_orderpriority")
      .orderBy($"ph".desc, $"day")
    ph.withColumn("rn", row_number().over(wPick))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_days"),
        expr("max_by(m, day)").as("m_end"),
        min($"m").as("m_min"),
        max($"ph").as("ph_peak"),
        expr("min_by(day, rn)").as("peak_day"))
      .orderBy($"o_orderpriority")
  }

  /** Ansari–Bradley scale-test inputs — do the extreme priorities
    * ('1-URGENT' vs '5-LOW') differ in daily-revenue DISPERSION even
    * when centered alike? AB scores rank from BOTH ends toward the
    * middle (a = min(r, N+1−r), small scores at the extremes), so a
    * group holding the tails collects a smaller sum. Shared DOUBLED
    * midranks keep everything integral under ties:
    * r2(v) = 2·c_lt + n_v + 1, ab2(v) = min(r2, 2(N+1) − r2), the
    * statistic is Σ a_g(v)·ab2(v) per group, and the tie-corrected
    * null-variance pieces (pooled Σ n_v·ab2, Σ n_v·ab2²) ride along
    * exactly. The value collapse + distributed two-phase prefix keep
    * the distinct-value table the only ordered structure. */
  def q167AnsariBradley(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val dv = daily.groupBy($"cents")
      .agg(count(lit(1)).as("n_v"),
        sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).as("a_urg"),
        sum(when($"o_orderpriority" === "5-LOW", 1L).otherwise(0L)).as("a_low"))
      .withColumn("_k", lit(1))
    val tot = daily.agg(count(lit(1)).as("n_total"))
    val cum = CorpusPipeline.prefixSumExclusive(dv, "_k",
      Seq($"cents"), "n_v", "c_lt",
      CorpusPipeline.equiWidthBucket(daily.select($"cents"), "cents"))
    val scored = cum.crossJoin(broadcast(tot))
      .withColumn("r2", lit(2L) * $"c_lt" + $"n_v" + lit(1L))
      .withColumn("ab2", least($"r2", lit(2L) * ($"n_total" + 1L) - $"r2"))
    val pooled = scored.agg(
      max($"n_total").as("n_total"),
      sum($"n_v" * $"ab2").as("pool_ab2"),
      expr("cast(sum(cast(n_v as decimal(38,0)) * ab2 * ab2) as bigint)").as("pool_ab2_sq"))
    scored
      .select(explode(expr(
        "array(named_struct('o_orderpriority', '1-URGENT', 'a', a_urg)," +
          " named_struct('o_orderpriority', '5-LOW', 'a', a_low))")).as("e"),
        $"ab2")
      .groupBy($"e.o_orderpriority")
      .agg(sum($"e.a").as("n_g"), sum($"e.a" * $"ab2").as("ab2_sum"))
      .crossJoin(broadcast(pooled))
      .select($"o_orderpriority", $"n_g", $"ab2_sum", $"n_total",
        $"pool_ab2", $"pool_ab2_sq")
      .orderBy($"o_orderpriority")
  }

  /** Label propagation, two synchronous steps over the co-purchase
    * graph — the cheap community-detection pass (GraphX/GraphFrames
    * `labelPropagation` shape) seeded label(v) = v: each step every
    * node adopts its neighbors' MOST FREQUENT current label (tie →
    * smallest label). Step 1 from id-seeds degenerates to min-neighbor
    * (every vote distinct — that step is still run, not skipped); step
    * 2 is the real frequency vote, so two steps is the smallest
    * honest unit. Each step is one edge-keyed join + a (node, label)
    * count + a per-node argmax window — the synchronous-iteration
    * template every LPA deployment scales by. */
  def q168LpaStep(spark: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val e = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = e.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    val wPick = Window.partitionBy($"src").orderBy($"c".desc, $"l")
    for (_ <- 1 to iters) {
      labels = e.join(labels, $"dst" === $"node")
        .groupBy($"src", $"label".as("l"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wPick))
        .filter($"rn" === 1)
        .select($"src".as("node"), $"l".as("label"), $"c".as("votes"))
        // EXECUTOR-side lineage cut per synchronous step (eager
        // localCheckpoint): plan depth stays CONSTANT in iters (the
        // pagerank-family discipline), and the per-node label table —
        // which grows linearly with the graph — never rides through
        // the driver. After the final step's checkpoint the labels
        // RDD no longer references the cached edge set, so the
        // unpersist below is safe.
        .localCheckpoint(true)
    }
    e.unpersist(blocking = true)
    labels.select($"node", $"label", $"votes").orderBy($"node")
  }

  /** Runs-UP-AND-DOWN test inputs — the randomness screen against
    * TREND/oscillation (q111's runs-vs-median screen catches level
    * clustering; this one catches momentum): the sign sequence of
    * consecutive daily deltas (zero deltas dropped, counted
    * separately), R = 1 + sign changes, and the exact null pieces
    * E[R] = (2N−1)/3 and 90·Var[R] = 16N−29 over N = m+1 effective
    * values ride along as integers (mean3 = numerator of 3·E[R]).
    * Two serial windows per priority above the day-keyed aggregate —
    * the calendar-serial family. */
  def q169RunsUpDown(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val signs = daily
      .withColumn("d", $"cents" - lag($"cents", 1).over(w))
      .filter($"d".isNotNull)
      .withColumn("s", signum($"d").cast("long"))
    val nz = signs.filter($"s" =!= 0L)
      .withColumn("prev_s", lag($"s", 1).over(w))
    nz.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("m"),
        sum(when($"prev_s".isNotNull && $"prev_s" =!= $"s", 1L).otherwise(0L))
          .as("n_changes"))
      .join(signs.filter($"s" === 0L).groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_zero")), Seq("o_orderpriority"), "left")
      .na.fill(0L, Seq("n_zero"))
      .select($"o_orderpriority", $"m", $"n_zero",
        ($"n_changes" + 1L).as("n_runs"),
        (lit(2L) * ($"m" + 1L) - 1L).as("mean3"),
        (lit(16L) * ($"m" + 1L) - 29L).as("var90"))
      .orderBy($"o_orderpriority")
  }

  /** Mantel–Haenszel stratified-odds-ratio inputs — the confounder-
    * adjusted 2×2 readout (does URGENT fulfill more often than LOW
    * once the order YEAR is held fixed?): per stratum (year) the full
    * 2×2 cell counts plus the exact MH terms ad·10⁶ div n and
    * bc·10⁶ div n (micro-floored once — both engines truncate
    * identically), so OR_MH = Σad_micro / Σbc_micro is one float step
    * downstream and Simpson's-paradox-proof. One conditional
    * aggregate per stratum + the per-stratum division; fuses into the
    * scan at any scale. */
  def q170MantelHaenszel(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .groupBy(year($"o_orderdate").cast("long").as("yr"))
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "F", 1L)
          .otherwise(0L)).as("a"),
        sum(when($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" =!= "F", 1L)
          .otherwise(0L)).as("b"),
        sum(when($"o_orderpriority" === "5-LOW" && $"o_orderstatus" === "F", 1L)
          .otherwise(0L)).as("c"),
        sum(when($"o_orderpriority" === "5-LOW" && $"o_orderstatus" =!= "F", 1L)
          .otherwise(0L)).as("d"))
      .withColumn("n", $"a" + $"b" + $"c" + $"d")
      // a·d·10⁶ is N²-class: route the product through decimal(38,0)
      // (the repo's exact-integer convention for N² products — q161/
      // q162); the QUOTIENT ≤ min(a,d)·10⁶ always fits BIGINT, and
      // Spark's IntegralDivide returns LONG for decimal operands.
      .withColumn("ad_micro", expr("cast(a as decimal(38,0)) * d * 1000000 div n"))
      .withColumn("bc_micro", expr("cast(b as decimal(38,0)) * c * 1000000 div n"))
      .orderBy($"yr")

  /** Cochran–Armitage trend inputs — trend in a BINARY outcome across
    * ordered groups (the dose-response / funnel-stage test; here:
    * fulfilled-order rate across the 1-URGENT→5-LOW priority order,
    * scores w = 1..5): per group the exact centered trend term
    * t_term = w·(n1_g·N − n_g·N1), so T = Σ t_term is the statistic's
    * exact integer numerator (N²-class → STRING path) and the variance
    * pieces (N1, N, Σw·n_g, Σw²·n_g) all ride along as exact integers.
    * One map-side two-flag aggregate + a broadcast 1-row total — fuses
    * into the scan at any scale. */
  def q162CochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .select(expr("cast(substring(o_orderpriority, 1, 1) as bigint)").as("w"),
        $"o_orderpriority",
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("hit"))
      .groupBy($"o_orderpriority", $"w")
      .agg(count(lit(1)).as("n_g"), sum($"hit").as("n1_g"))
    val tot = g.agg(sum($"n_g").as("n_total"), sum($"n1_g").as("n1_total"))
    g.crossJoin(broadcast(tot))
      .select($"o_orderpriority", $"w", $"n_g", $"n1_g", $"n_total", $"n1_total",
        expr("cast(cast(w as decimal(38,0)) * (cast(n1_g as decimal(38,0)) * n_total" +
          " - cast(n_g as decimal(38,0)) * n1_total) as string)").as("t_term"))
      .orderBy($"w")
  }

  /** Jonckheere–Terpstra ORDERED-trend inputs — the directional
    * sibling of [[q160KruskalWallis]] (KW asks "do the k groups
    * differ?", JT asks "do they INCREASE along the given order?" —
    * here the natural 1-URGENT→5-LOW priority order): per ordered
    * group pair (lo < hi), the DOUBLED Mann–Whitney count
    * 2·U = 2·Σ_v a_hi(v)·c_lo_lt(v) + Σ_v a_lo(v)·a_hi(v) (ties at ½,
    * doubled to stay integral); JT = Σ_{lo<hi} U one float step
    * downstream. Structure: one map-side (value, group) count
    * collapse, a 5-column pivot on the DISTINCT value table, the
    * distributed two-phase prefix sum per group column (the table is
    * |distinct cents| rows — never a serial corpus window), unpivot,
    * and a value-keyed self-join that only ever carries the distinct
    * table. 2·U is N²-class → exact-decimal STRING path. */
  def q161Jonckheere(spark: SparkSession, dir: String): DataFrame = {
    val groups = Seq("1", "2", "3", "4", "5")
    val aggs = groups.map(g =>
      sum(when($"g" === g, 1L).otherwise(0L)).as(s"a$g"))
    val p0 = Tables.orders(spark, dir)
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        expr("substring(o_orderpriority, 1, 1)").as("g"))
      .groupBy($"cents")
      .agg(aggs.head, aggs.tail: _*)
    // r14: stay PIVOTED end to end. The r13 shape unpivoted the 5-wide
    // distinct-value table to ride the group-keyed prefix device, then
    // self-joined on cents to pair the groups back up — 5× the rows,
    // two localCheckpoints, and a value-keyed join carrying both
    // sides. But the pivot row already holds ALL five groups' counts
    // at each value, so: one wide two-phase exclusive prefix (5 sum
    // columns sharing ONE within-bucket window; bucket offsets from a
    // ≤64-row rollup) gives every group's exclusive cumulative, and
    // the ten ordered-pair 2·U sums are ten aggregate expressions over
    // the SAME pass — no unpivot, no self-join, no checkpoint.
    // Identical integers: term(lo,hi) at value v = 2·a_hi·c_lo +
    // a_lo·a_hi is the r13 join term verbatim (before/after plans in
    // plans/r14/, numbers in OPTIMIZATION_r14.md).
    val bkt = CorpusPipeline.equiWidthBucket(p0, "cents")
    val b = p0.withColumn("_bkt", bkt)
    // bucket-level offsets: ≤64 rows — bounded serial window by the
    // bucket dial, never corpus-shaped
    val offAggs = groups.map(g => sum(col(s"a$g")).as(s"s$g"))
    val wOff = Window.orderBy($"_bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = groups.foldLeft(
        b.groupBy($"_bkt").agg(offAggs.head, offAggs.tail: _*)) { (df, g) =>
        df.withColumn(s"o$g", coalesce(sum(col(s"s$g")).over(wOff), lit(0L)))
      }
      .select(($"_bkt" +: groups.map(g => col(s"o$g"))): _*)
    val wIn = Window.partitionBy($"_bkt").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = groups.foldLeft(b.join(broadcast(offsets), Seq("_bkt"))) { (df, g) =>
      df.withColumn(s"c$g",
        coalesce(sum(col(s"a$g")).over(wIn), lit(0L)) + col(s"o$g"))
    }
    val pairs = for { lo <- groups; hi <- groups if lo < hi } yield (lo, hi)
    val pairAggs = pairs.map { case (lo, hi) =>
      sum(expr(s"2 * cast(a$hi as decimal(38,0)) * c$lo" +
        s" + cast(a$lo as decimal(38,0)) * a$hi")).as(s"u2_${lo}_$hi")
    }
    val totAggs = groups.map(g => sum(col(s"a$g")).as(s"n$g"))
    val allAggs = pairAggs ++ totAggs
    val wide = cum.agg(allAggs.head, allAggs.tail: _*)
    val stackArgs = pairs.map { case (lo, hi) =>
      s"'$lo', '$hi', n$lo, n$hi, cast(u2_${lo}_$hi as string)"
    }.mkString(", ")
    wide.selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (g_lo, g_hi, n_lo, n_hi, u2)")
      .orderBy($"g_lo", $"g_hi")
  }

  /** Per-priority daily revenue series with n-SCALED detrended
    * residuals — the shared input of the serial-correlation screens
    * ([[q173DurbinWatson]] / [[q176KpssInputs]]): e_t = n·x_t − S is
    * the mean-deviation scaled by n so it stays an exact BIGINT (the
    * raw deviation x_t − S/n is fractional); every downstream ratio
    * is scale-invariant because numerator and denominator carry the
    * same n-power. One groupBy for the series + a 5-row broadcast for
    * (n, S); the series is calendar-bounded (days × 5 priorities), so
    * the per-priority lag/cumsum windows are bounded serial work, not
    * corpus-growing. */
  private def dailyResiduals(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val tot = daily.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_days"), sum($"cents").as("s_cents"))
    daily.join(broadcast(tot), "o_orderpriority")
      .withColumn("e", $"n_days" * $"cents" - $"s_cents")
  }

  /** Durbin–Watson statistic inputs per priority — the classic
    * lag-1 serial-correlation screen on the daily-revenue residuals
    * (DW ≈ 2(1−ρ): near 0 = momentum, near 4 = oscillation). With the
    * n-scaled residuals e_t = n·x_t − S the ratio
    * DW = Σ(e_t − e_{t−1})² / Σe_t² is unchanged (both sides carry
    * n²), so dw_num / dw_den are EXACT decimal(38) sums and the float
    * statistic is one micro-floored division at the edge. Same
    * calendar-bounded lag window as q85; the statistics differ (q85
    * is the centered product-moment correlation, DW the
    * successive-difference ratio von Neumann popularized).
    * CEILING (documented, q176-style): dw_micro's num×10⁶
    * intermediate must fit decimal(38,0), i.e. num ≤ ~10³², which the
    * n-scaled residuals reach near ~500× test scale (num grows ~n³:
    * n² from the e = n·x − S scaling, n from the sum length). Past
    * that Spark returns NULL for dw_micro while the exact dw_num /
    * dw_den strings stay correct — recompute the ratio downstream. */
  def q173DurbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    dailyResiduals(spark, dir)
      .withColumn("prev", lag($"e", 1).over(w))
      .groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"),
        sum(when($"prev".isNotNull,
          expr("cast(e - prev as decimal(38,0)) * (e - prev)"))).as("num"),
        sum(expr("cast(e as decimal(38,0)) * e")).as("den"))
      .select($"o_orderpriority", $"n_days",
        $"num".cast("string").as("dw_num"),
        $"den".cast("string").as("dw_den"),
        when($"den" > 0,
          expr("cast(num * 1000000 div den as bigint)")).as("dw_micro"))
      .orderBy($"o_orderpriority")
  }

  /** Turning-points randomness test inputs per priority: the count of
    * STRICT local maxima/minima in the daily revenue series (an iid
    * series has E[T] = 2(n−2)/3, Var = (16n−29)/90 — both emitted as
    * exact integer numerators with their fixed denominators in the
    * column names). Equal-neighbor days break no turn by the strict
    * inequality contract (cents ties are possible but rare; the
    * strictness is pinned in the oracle). One lag+lead window over
    * the calendar-bounded series. */
  def q174TurningPoints(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("prev", lag($"cents", 1).over(w))
      .withColumn("nxt", lead($"cents", 1).over(w))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"prev".isNotNull && $"nxt".isNotNull &&
          (($"cents" > $"prev" && $"cents" > $"nxt") ||
           ($"cents" < $"prev" && $"cents" < $"nxt")), 1L)
          .otherwise(0L)).as("tp_count"))
      .select($"o_orderpriority", $"n_days", $"tp_count",
        (lit(2L) * ($"n_days" - 2)).as("exp_num3"),
        (lit(16L) * $"n_days" - 29).as("var_num90"))
      .orderBy($"o_orderpriority")
  }

  /** Bartels rank von Neumann test inputs per priority — the
    * rank-based randomness screen (the nonparametric twin of
    * [[q173DurbinWatson]]: momentum shows as a SMALL successive
    * rank-difference sum). Ranks are the DOUBLED midranks
    * 2R_t = 2·c_lt + t_v + 1 (ties stay integral — the q160 device,
    * here via one calendar-bounded cumsum over the per-priority
    * distinct-value table), so num = Σ(2R_t − 2R_{t+1})² and
    * den = Σ(2R_t − (n+1))² are 4× the classical sums and their
    * ratio is untouched. Both exact decimal(38); the spec pins
    * Σ2R = n(n+1). */
  def q175BartelsRank(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val dv = daily.groupBy($"o_orderpriority", $"cents").agg(count(lit(1)).as("t"))
    val wv = Window.partitionBy($"o_orderpriority").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = dv.withColumn("c_lt", coalesce(sum($"t").over(wv), lit(0L)))
      .select($"o_orderpriority", $"cents",
        (lit(2L) * $"c_lt" + $"t" + 1).as("r2"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    daily.join(ranked, Seq("o_orderpriority", "cents"))
      .withColumn("r2nxt", lead($"r2", 1).over(w))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"r2nxt".isNotNull,
          expr("cast(r2 - r2nxt as decimal(38,0)) * (r2 - r2nxt)"))).as("num"),
        sum(expr("cast(r2 as decimal(38,0)) * r2")).as("ssq"),
        sum($"r2").as("sr2"))
      // den = Σ(2R − (n+1))² expanded off the exact sums: Σ(2R)² −
      // 2(n+1)Σ2R + n(n+1)² — avoids a second pass with the mean
      .select($"o_orderpriority", $"n_days",
        $"num".cast("string").as("rvn_num"),
        ($"ssq" - expr("cast(2 * (n_days + 1) as decimal(38,0)) * sr2")
          + expr("cast(n_days as decimal(38,0)) * (n_days + 1) * (n_days + 1)"))
          .cast("string").as("rvn_den"),
        $"sr2".as("rank_sum2"))
      .orderBy($"o_orderpriority")
  }

  /** Goodman–Kruskal gamma and Somers' D(Y|X) sufficient pairs — the
    * ordinal-association effect sizes between order priority (1–5)
    * and the fixed 5M-cent total-price band (0–9): concordant /
    * discordant / tied pair counts computed over the ≤55-cell
    * contingency table's CELL PAIRS (n_a·n_b products — never a row
    * self-join; the corpus is touched once for the cell counts).
    * gamma = (C−D)/(C+D), Somers' D(Y|X) = (C−D)/(C+D+T_Y); both
    * micro ratios are SIGN-SPLIT floored (truncate-toward-zero in
    * both engines — the q171 device) since C−D can be negative.
    * Pair counts are n²-class → decimal path for the ×10⁶ products. */
  def q178GammaSomers(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .select(expr("cast(substring(o_orderpriority, 1, 1) as bigint)").as("x"),
        expr("least(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 5000000, 9)").as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).as("a"))
    val pairs = cells.as("a").crossJoin(broadcast(cells.as("b")))
      .filter(expr("a.x < b.x OR (a.x = b.x AND a.y < b.y)"))
      .select(col("a.x").as("xa"), col("a.y").as("ya"), col("a.a").as("na"),
        col("b.x").as("xb"), col("b.y").as("yb"), col("b.a").as("nb"))
    // the na*nb products and their sums are n²-class: at ~3e9 rows a
    // cell product alone reaches int64 range, where non-ANSI Spark
    // would wrap SILENTLY while the oracle errors — so accumulate in
    // decimal(38,0) and cast back at the edge (outputs stay BIGINT;
    // n² ≤ 9.2e18 holds to n ≈ 3e9 rows, far past 100× test scale)
    val pp = expr("cast(na as decimal(38,0)) * nb")
    val agg = pairs.agg(
      sum(when($"xa" < $"xb" && $"ya" < $"yb", pp).otherwise(lit(0))).as("c_d"),
      sum(when($"xa" < $"xb" && $"ya" > $"yb", pp).otherwise(lit(0))).as("d_d"),
      sum(when($"xa" === $"xb" && $"ya" =!= $"yb", pp).otherwise(lit(0))).as("tx_d"),
      sum(when($"xa" < $"xb" && $"ya" === $"yb", pp).otherwise(lit(0))).as("ty_d"))
    val n = cells.agg(sum($"a").as("n"))
    n.crossJoin(broadcast(agg))
      .select($"n",
        $"c_d".cast("bigint").as("c_pairs"), $"d_d".cast("bigint").as("d_pairs"),
        $"tx_d".cast("bigint").as("tx_pairs"), $"ty_d".cast("bigint").as("ty_pairs"),
        expr("cast(CASE WHEN c_d >= d_d THEN" +
          " (c_d - d_d) * 1000000 div (c_d + d_d)" +
          " ELSE -((d_d - c_d) * 1000000 div (c_d + d_d)) END as bigint)")
          .as("gamma_micro"),
        expr("cast(CASE WHEN c_d >= d_d THEN" +
          " (c_d - d_d) * 1000000 div (c_d + d_d + ty_d)" +
          " ELSE -((d_d - c_d) * 1000000 div (c_d + d_d + ty_d)) END as bigint)")
          .as("somers_d_micro"))
  }

  /** Cliff's delta — the nonparametric dominance EFFECT SIZE the
    * Mann–Whitney family's p-value machinery (q112/q133) doesn't
    * report: δ = (#(x>y) − #(x<y))/(n₁n₂) between BUILDING-segment
    * and all-other order totals. Counts come from the distinct-value
    * two-phase prefix sum (never a row×row join): per distinct cent
    * value, the BUILDING count times the exclusive/complementary
    * rest-count cumulatives. δ micro is sign-split floored; the
    * n₁n₂ denominator crosses int64×10⁶ at ~100× so the division
    * runs in decimal. */
  def q179CliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"),
        when($"c_mktsegment" === "BUILDING", lit("b")).otherwise(lit("r")).as("g"))
    val cells = d.groupBy($"cents")
      .agg(sum(when($"g" === "b", 1L).otherwise(0L)).as("ab"),
        sum(when($"g" === "r", 1L).otherwise(0L)).as("ar"))
      .withColumn("k", lit(1))
    val cum = CorpusPipeline.prefixSumExclusive(cells, "k", Seq($"cents"), "ar",
      "cr_lt", CorpusPipeline.equiWidthBucket(cells, "cents"))
    val tot = cum.agg(sum($"ab").as("n_b"), sum($"ar").as("n_r"))
    // n²-class pair sums in decimal(38,0) (the q178 wrap-vs-error
    // guard: non-ANSI Spark wraps int64 silently, the oracle errors);
    // the BIGINT output casts keep the gate schema, valid to n ≈ 3e9
    cum.crossJoin(broadcast(tot))
      .agg(max($"n_b").as("n_b"), max($"n_r").as("n_r"),
        sum(expr("cast(ab as decimal(38,0)) * cr_lt")).as("gt_d"),
        sum(expr("cast(ab as decimal(38,0)) * (n_r - cr_lt - ar)")).as("lt_d"),
        sum(expr("cast(ab as decimal(38,0)) * ar")).as("eq_d"))
      .select($"n_b", $"n_r",
        $"gt_d".cast("bigint").as("n_gt"), $"lt_d".cast("bigint").as("n_lt"),
        $"eq_d".cast("bigint").as("n_eq"),
        expr("cast(CASE WHEN gt_d >= lt_d THEN" +
          " (gt_d - lt_d) * 1000000 div (cast(n_b as decimal(38,0)) * n_r)" +
          " ELSE -((lt_d - gt_d) * 1000000 div (cast(n_b as decimal(38,0)) * n_r)) END as bigint)")
          .as("delta_micro"))
  }

  /** Ljung–Box portmanteau inputs per priority — the multi-lag
    * whiteness screen above [[q173DurbinWatson]]'s single lag: for
    * k = 1..7, the exact autocovariance numerator Σ_{t>k} e_t·e_{t−k}
    * over the shared n-scaled residuals, beside the lag-0 denominator
    * Σe² (constant per priority, riding every row) — the statistic
    * n(n+2)·Σ ρ̂_k²/(n−k) is float steps downstream of these exact
    * decimal(38) pieces. Same rn-join lag expansion as q122 (7 slim
    * rows per day, calendar-bounded). */
  def q180LjungBox(spark: SparkSession, dir: String): DataFrame = {
    val res = dailyResiduals(spark, dir)
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val rn = res.withColumn("rn", row_number().over(w).cast("long"))
    val prior = rn.select($"o_orderpriority".as("p2"), $"rn".as("rn2"), $"e".as("e2"))
    val den = res.groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"),
        sum(expr("cast(e as decimal(38,0)) * e")).as("den"))
    rn.select($"o_orderpriority", $"rn", $"e", explode(expr("sequence(1, 7)")).as("lag"))
      .join(prior, $"o_orderpriority" === $"p2" && $"rn2" === $"rn" - $"lag")
      .groupBy($"o_orderpriority", $"lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("cast(e as decimal(38,0)) * e2")).as("num"))
      .join(broadcast(den), "o_orderpriority")
      .select($"o_orderpriority", $"lag".cast("bigint").as("lag"), $"n_pairs",
        $"n_days",
        $"num".cast("string").as("rho_num"),
        $"den".cast("string").as("rho_den"))
      .orderBy($"o_orderpriority", $"lag")
  }

  /** Paired sign test per segment — the assumption-free sibling of
    * the Wilcoxon signed-rank readout (q132 needs symmetric
    * differences; the sign test only needs independent pairs):
    * customers active in BOTH 1995 and 1996, counted by spend
    * direction. Zero-difference pairs are REPORTED (n_zero), not
    * silently dropped — the binomial test downstream chooses its
    * zero policy explicitly. One aggregate over the q132 pairing. */
  def q181SignTest(spark: SparkSession, dir: String): DataFrame = {
    val y = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1997-01-01").cast("date"))
      .select($"o_custkey", year($"o_orderdate").as("yr"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"o_custkey")
      .agg(sum(when($"yr" === 1995, $"cents")).as("c95"),
        sum(when($"yr" === 1996, $"cents")).as("c96"))
      .filter($"c95".isNotNull && $"c96".isNotNull)
    y.join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("seg"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"c96" > $"c95", 1L).otherwise(0L)).as("n_pos"),
        sum(when($"c96" < $"c95", 1L).otherwise(0L)).as("n_neg"),
        sum(when($"c96" === $"c95", 1L).otherwise(0L)).as("n_zero"))
      .orderBy($"seg")
  }

  /** HITS hubs/authorities over the customer→part purchase BIPARTITE
    * graph (Kleinberg's other eigenvector, completing the link-analysis
    * family beside [[q57Pagerank]]'s part—part random walk): hubs are
    * customers, authorities parts; with h⁰ = 1 the unrolled
    * half-iterations are a¹(p) = indegree, h¹(c) = Σ_{p∈c} a¹(p),
    * a²(p) = Σ_{c→p} h¹(c) — every value an exact integer (the usual
    * L2 normalization only rescales the ranking, so the integer
    * iterates preserve the exact order the float version converges
    * toward). Edge list = DISTINCT (custkey, partkey) off the
    * orders⋈lineitem fact join — each propagation is one shuffled hash
    * join + aggregate on a growing key (nothing corpus-growing is
    * broadcast); output is the top-20 authorities, partkey
    * tie-broken. */
  def q177Hits(spark: SparkSession, dir: String): DataFrame = {
    // the distinct edge list is consumed THREE times below (a1, h1,
    // a2); the per-corpus-snapshot parquet materialization builds the
    // orders⋈lineitem expansion once instead of once per consumer
    val edges = snapshotTable(spark, dir, "bipartite_cp")(
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_partkey".as("p"))
        .distinct())
    val a1 = edges.groupBy($"p").agg(count(lit(1)).as("a1"))
    val h1 = edges.join(a1, "p").groupBy($"c").agg(sum($"a1").as("h1"))
    val a2 = edges.join(h1, "c").groupBy($"p").agg(sum($"h1").as("a2"))
    a2.join(a1, "p")
      .select($"p".as("l_partkey"), $"a1", $"a2")
      .orderBy($"a2".desc, $"l_partkey")
      .limit(20)
  }

  /** KPSS level-stationarity statistic inputs per priority: partial
    * sums P_t of the n-scaled residuals (P_n = 0 exactly — pinned in
    * the spec), eta = ΣP_t² and the lag-0 long-run variance numerator
    * Σe_t², both exact decimal(38); the classical statistic is
    * η̂ = ΣP̂²/(n²σ̂²) = ΣP_t²/(n·Σe_t²) after the n-scaling cancels —
    * left as the one float step downstream (eta·10⁶ can pass 38
    * digits at 100×, so no micro column here by the headroom@100×
    * audit's own rule). The cumsum is one calendar-bounded window
    * over [[dailyResiduals]]. */
  def q176KpssInputs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    dailyResiduals(spark, dir)
      .withColumn("p", sum($"e").over(w))
      .groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"),
        sum(expr("cast(p as decimal(38,0)) * p")).as("eta"),
        sum(expr("cast(e as decimal(38,0)) * e")).as("s2"))
      .select($"o_orderpriority", $"n_days",
        $"eta".cast("string").as("eta_num"),
        $"s2".cast("string").as("s2_num"))
      .orderBy($"o_orderpriority")
  }

  /** Dickey–Fuller unit-root test inputs per priority — the
    * complement of [[q176KpssInputs]] (KPSS null = stationary, ADF
    * null = unit root; time-series pipelines run both and act on
    * agreement). Regress Δy_t on y_{t−1} with intercept over the
    * observed-day revenue series: γ̂ ≈ 0 ⇒ random-walk revenue,
    * strongly negative ⇒ mean reversion. The four sufficient
    * statistics (Σx, Σd, Σxd, Σx²) aggregate as EXACT decimals
    * (partition-order independent — the q74 discipline), cast to
    * double once, and γ̂/α̂ evaluate as one fixed IEEE closed form.
    * One groupBy builds the series; the lag window is
    * calendar-bounded (days × 5 priorities), so everything past the
    * first aggregate is O(days), not O(orders). */
  def q182AdfInputs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("prev", lag($"cents", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"o_orderpriority",
        expr("cast(prev as decimal(18,0))").as("x"),
        expr("cast(cents - prev as decimal(18,0))").as("d"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"d").as("sd"),
        sum($"x" * $"d").as("sxd"), sum($"x" * $"x").as("sxx"))
      // closed forms off EXACT decimal numerators/denominators: one
      // correctly-rounded double division for γ̂ (|γ̂| ~ 1 — 7 sig
      // digits after round6, ulp-safe), and the cents-scale intercept
      // as an exact integer TRUNCATED division, SIGN-SPLIT
      // (sign · (abs(num) div den) — the Theil-Sen convention,
      // cf. q171) so Spark's truncate-toward-zero div and the
      // oracle's floor-div `//` agree when the numerator telescopes
      // negative (sd = last−first is negative on downward-drifting
      // series); the denominator n·Σx²−(Σx)² = n²·Var(x) ≥ 0 by
      // Cauchy–Schwarz, so only the numerator needs the split.
      // (A round6 double here needs 15+ sig digits where Spark's
      // exact-decimal round and DuckDB's multiply-based round diverge
      // by an ulp — seen live at sf0.1; hence integers.)
      // CEILING (documented, q173-style): sd·sxx ~ 5·10³⁸ at 100× test
      // scale overflows decimal(38) — Spark then yields NULL while the
      // exact sums in γ̂'s n-scaled forms (~10²⁷) stay good.
      .select($"o_orderpriority", $"n",
        round(expr("cast(cast(n as decimal(38,0)) * sxd - sx * sd as double)") /
          expr("cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)"), 6).as("gamma"),
        expr("""cast(CASE WHEN sd * sxx - sx * sxd < 0
               | THEN -((sx * sxd - sd * sxx) div (cast(n as decimal(38,0)) * sxx - sx * sx))
               | ELSE (sd * sxx - sx * sxd) div (cast(n as decimal(38,0)) * sxx - sx * sx)
               |END as bigint)""".stripMargin)
          .as("intercept_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Brier-score (Murphy) decomposition cells: each segment's 1995
    * active rate is a constant probability FORECAST of customer
    * activity in 1996; the output is the per-segment calibration
    * cell — n, forecast numerator k_pred (active 1995), outcome
    * numerator k_out (active 1996), and the reliability term
    * n·(p−o)² = (k_pred−k_out)²/n as an exact-integer-derived micro
    * (squared in decimal(38,0) so the ×10⁶ intermediate can't wrap;
    * the published micro is ≤ 10⁶·n). Σ rel over cells against the
    * uncertainty term ō(1−ō) is the reliability/resolution readout a
    * forecast-calibration QA publishes — the same cells calibrate a
    * quality-score → keep-rate model at corpus scale. One pass over
    * orders (per-customer year flags), one broadcast-friendly join to
    * customer, then cells-sized arithmetic. */
  def q184BrierCells(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(max(when(year($"o_orderdate") === 1995, 1L).otherwise(0L)).as("f95"),
        max(when(year($"o_orderdate") === 1996, 1L).otherwise(0L)).as("f96"))
    Tables.customer(spark, dir)
      .join(flags, $"c_custkey" === $"o_custkey", "left")
      .select($"c_mktsegment",
        coalesce($"f95", lit(0L)).as("a95"),
        coalesce($"f96", lit(0L)).as("a96"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum($"a95").as("k_pred"),
        sum($"a96").as("k_out"))
      .select($"c_mktsegment", $"n_cust", $"k_pred", $"k_out",
        expr("cast(cast(k_pred - k_out as decimal(38,0)) * (k_pred - k_out)" +
          " * 1000000 div n_cust as bigint)").as("rel_micro"))
      .orderBy($"c_mktsegment")
  }

  /** Partial autocorrelation at lags 1–2 per priority via the
    * Durbin–Levinson closed form — the AR-order diagnostic the ACF
    * alone can't give (φ22 ≈ 0 ⇒ AR(1) suffices; the PACF cutting off
    * at lag p is THE textbook AR(p) signature, read beside
    * [[q122Correlogram]]'s ACF and [[q180LjungBox]]'s portmanteau).
    * Autocovariance numerators R_k = Σ_{t>k} e_t·e_{t−k} use the
    * n-scaled residuals e = n·x − S ([[dailyResiduals]]) so they are
    * EXACT decimal(38,0) sums (R₀ ~ n³x², ~10³¹ at 100× test scale —
    * inside decimal(38) because the series is calendar-bounded);
    * φ11 = R₁/R₀ and φ22 = (R₂R₀ − R₁²)/(R₀² − R₁²) evaluate in
    * double from the exact sums (the q182 discipline — R₀² would
    * overflow any fixed-point width, and both engines cast the same
    * exact integers through the same IEEE closed form). The exact
    * R₀/R₁/R₂ strings ship alongside for downstream re-derivation.
    * Shape: one groupBy for the series, one row_number window, one
    * co-partitioned self-join for both lags — O(days), not O(orders),
    * past the first aggregate. */
  def q183Pacf(spark: SparkSession, dir: String): DataFrame = {
    val res = dailyResiduals(spark, dir)
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val rn = res.withColumn("rn", row_number().over(w).cast("long"))
    val prior = rn.select($"o_orderpriority".as("p2"), $"rn".as("rn2"), $"e".as("e2"))
    val r0 = res.groupBy($"o_orderpriority")
      .agg(max($"n_days").as("n_days"),
        sum(expr("cast(e as decimal(38,0)) * e")).as("r0"))
    rn.select($"o_orderpriority", $"rn", $"e", explode(expr("sequence(1, 2)")).as("lag"))
      .join(prior, $"o_orderpriority" === $"p2" && $"rn2" === $"rn" - $"lag")
      .groupBy($"o_orderpriority")
      .agg(sum(when($"lag" === 1, expr("cast(e as decimal(38,0)) * e2"))).as("r1"),
        sum(when($"lag" === 2, expr("cast(e as decimal(38,0)) * e2"))).as("r2"))
      .join(broadcast(r0), "o_orderpriority")
      .select($"o_orderpriority", $"n_days",
        $"r0".cast("string").as("r0"),
        $"r1".cast("string").as("r1"),
        $"r2".cast("string").as("r2"),
        round($"r1".cast("double") / $"r0".cast("double"), 6).as("phi11"),
        when($"r0".cast("double") * $"r0".cast("double") =!=
            $"r1".cast("double") * $"r1".cast("double"),
          round(($"r2".cast("double") * $"r0".cast("double") -
              $"r1".cast("double") * $"r1".cast("double")) /
            ($"r0".cast("double") * $"r0".cast("double") -
              $"r1".cast("double") * $"r1".cast("double")), 6)).as("phi22"))
      .orderBy($"o_orderpriority")
  }

  /** Nelson–Aalen cumulative-hazard estimator over the q121 survival
    * frame (customer lifetime in weeks, right-censored at the 56-day
    * cutoff) — the hazard-scale twin of Kaplan–Meier: KM multiplies
    * survival factors, NA SUMS d_i/n_i, so it stays exact in integer
    * micro-units end-to-end (no float product chain). Per event time:
    * the risk set n_i (everyone with lifetime ≥ t, from one prior-sum
    * window over the bounded week grid), events d_i, the increment
    * ⌊10⁶·d_i/n_i⌋ and the running Σ of those increments (the
    * published contract is "sum of floored micro increments" —
    * replicated verbatim in the oracle, so no rounding ambiguity).
    * The window is unpartitioned but week-bounded (lifetimes in a
    * 2-year calendar), the same boundedness contract as q121. */
  def q185NelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first_day"),
        max(to_date($"o_orderdate")).as("last_day"))
    val cutoff = Tables.orders(spark, dir)
      .agg(date_sub(max(to_date($"o_orderdate")), 56).as("cutoff"))
    val byT = perCust.crossJoin(broadcast(cutoff))
      .select(expr("datediff(last_day, first_day) div 7").as("t"),
        ($"last_day" <= $"cutoff").cast("int").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1) - $"event").as("cns"),
        count(lit(1)).as("m"))
    val total = byT.agg(sum($"m").as("n_total"))
    val wPrior = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, 0)
    byT.crossJoin(broadcast(total))
      .withColumn("n_at_risk", $"n_total" - coalesce(sum($"m").over(wPrior), lit(0L)))
      .filter($"d" > 0)
      .withColumn("hazard_micro", expr("d * 1000000 div n_at_risk"))
      .select($"t".as("t_weeks"), $"n_at_risk", $"d".as("n_events"),
        $"cns".as("n_censored"), $"hazard_micro",
        sum($"hazard_micro").over(wCum).as("cum_hazard_micro"))
      .orderBy($"t_weeks")
  }

  /** MASE — mean absolute SCALED error of the lag-7 seasonal-naive
    * forecast per priority (Hyndman & Koehler): q91's MAE divided by
    * the in-sample naive-1 MAE, the scale-free forecast score that
    * lets priorities with different revenue levels share one
    * accuracy dashboard (and is defined when a day has zero revenue,
    * where q91's MAPE divides by zero). Everything is exact integer
    * cents: Σ|e| over the lag-7-scored rows, Σ|Δ| over the lag-1
    * in-sample pairs, and the statistic ⌊10⁶·(sae·n₁)/(sad·n_eval)⌋
    * as ONE decimal(38,0) cross-multiplied division (sae·n₁ ~ 10¹⁵
    * at test scale, ~10²³ at 100× — inside decimal(38); a
    * constant-revenue degenerate series makes sad = 0 and both
    * engines then emit NULL via the explicit guard). Both lag
    * windows ride the SAME partitioned sort — one window shuffle,
    * calendar-bounded rows. */
  def q186Mase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("pred7", lag($"cents", 7).over(w))
      .withColumn("prev1", lag($"cents", 1).over(w))
      .groupBy($"o_orderpriority")
      .agg(sum(when($"pred7".isNotNull, 1L)).as("n_eval"),
        sum(when($"pred7".isNotNull, abs($"cents" - $"pred7"))).as("sae_cents"),
        sum(when($"prev1".isNotNull, 1L)).as("n_naive"),
        sum(when($"prev1".isNotNull, abs($"cents" - $"prev1"))).as("sad_cents"))
      .select($"o_orderpriority", $"n_eval", $"sae_cents", $"n_naive", $"sad_cents",
        when($"sad_cents" > 0 && $"n_eval" > 0,
          expr("cast(cast(sae_cents as decimal(38,0)) * n_naive * 1000000" +
            " div (cast(sad_cents as decimal(38,0)) * n_eval) as bigint)"))
          .as("mase_micro"))
      .orderBy($"o_orderpriority")
  }

  /** Cohen's d — standardized mean difference of order value, 1995 vs
    * 1996, per nation: the EFFECT-SIZE readout the q135 F-test and
    * q112 rank test don't give (significance without magnitude is the
    * classic dashboard trap). Sufficient statistics (n, Σx, Σx² per
    * group) aggregate as exact decimals off ONE fact pass (the q135
    * frame with the year as the group axis); the pooled-SD closed
    * form evaluates in double from the exact sums — identical IEEE
    * expression trees in both engines, q182 discipline, sqrt-only
    * parity as in q62 — and the exact SS strings ship alongside.
    * Group products are computed double-first (cast(n_a) * n_b) so
    * the 100× n_a·n_b·(n_a+n_b) ~10²¹ intermediate never touches
    * int64. */
  def q188CohensD(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", (year($"o_orderdate") === 1995).as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"n_name")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("n_a"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("n_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0))"))).as("s_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0))"))).as("s_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_b"))
      .filter($"n_a" >= 2 && $"n_b" >= 2)
      .withColumn("ss_a", expr("cast(n_a * q_a - s_a * s_a as decimal(38,0))"))
      .withColumn("ss_b", expr("cast(n_b * q_b - s_b * s_b as decimal(38,0))"))
      .filter($"ss_a" + $"ss_b" > 0)
      .select($"n_name", $"n_a", $"n_b",
        $"ss_a".cast("string").as("ss_a"),
        $"ss_b".cast("string").as("ss_b"),
        round(
          (expr("cast(s_a * n_b - s_b * n_a as double)") /
            (expr("cast(n_a as double)") * $"n_b")) /
          sqrt((expr("cast(n_b as double)") * expr("cast(ss_a as double)") / $"n_a" +
                expr("cast(n_a as double)") * expr("cast(ss_b as double)") / $"n_b") /
            (expr("cast(n_a as double)") * $"n_b" * ($"n_a" + $"n_b" - 2))), 6)
          .as("cohens_d"))
      .orderBy($"n_name")
  }

  /** Gehan–Breslow generalized Wilcoxon — the early-difference
    * weighted log-rank (weight = n_at_risk) over the q145 two-group
    * survival frame (BUILDING vs rest). The weight CANCELS the
    * per-time denominator, so unlike q145's float terms everything
    * here is EXACT where int64 allows: per event time
    * w·(O−E) = n·d₁ − n₁·d is an integer (±n² — 1000×-headroom-clean
    * at the audit), and the weighted variance numerator
    * d·n₁·(n−n₁)·(n−d) — which grows ~n⁴ and WOULD silently wrap
    * int64 ~3× above test scale — publishes as an exact rational
    * pair per time: v_num as a decimal(38,0) STRING (the rho_num
    * contract) over v_den = n−1. (A running float variance was tried
    * and dropped: engines accumulate window SUMs of doubles in
    * different orders — last-ulp drift from ~70 steps up, seen live
    * at sf0.01.) Consumers form Z = w_oe_cum / √(Σ vᵢ) at the edge.
    * Same shape as q145: one fact pass, week-bounded windows. */
  def q189Gehan(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first_day"),
        max(to_date($"o_orderdate")).as("last_day"))
    val cutoff = Tables.orders(spark, dir)
      .agg(date_sub(max(to_date($"o_orderdate")), 56).as("cutoff"))
    val seg = Tables.customer(spark, dir)
      .select($"c_custkey", ($"c_mktsegment" === "BUILDING").cast("int").as("g1"))
    val life = perCust.join(seg, $"o_custkey" === $"c_custkey")
      .crossJoin(broadcast(cutoff))
      .select(expr("datediff(last_day, first_day) div 7").as("t"),
        ($"last_day" <= $"cutoff").cast("int").as("event"), $"g1")
    val byT = life.groupBy($"t")
      .agg(count(lit(1)).as("m"), sum($"g1").as("m1"),
        sum($"event").as("d"), sum($"event" * $"g1").as("d1"))
    val tot = life.agg(count(lit(1)).as("n_total"), sum($"g1").as("n1_total"))
    val wPrior = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"t").rowsBetween(Window.unboundedPreceding, 0)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk", $"n_total" - coalesce(sum($"m").over(wPrior), lit(0L)))
      .withColumn("n1_risk", $"n1_total" - coalesce(sum($"m1").over(wPrior), lit(0L)))
      .filter($"d" > 0)
      .withColumn("w_oe", $"n_risk" * $"d1" - $"n1_risk" * $"d")
      // the weighted variance numerator grows ~n⁴ (the sf0.1 headroom
      // audit measured 57× to int64, i.e. silent wrap ~3× above test
      // scale — and Spark's `div` itself returns a WRAPPING bigint on
      // decimal operands): publish it as an exact decimal(38,0) STRING
      // (the rho_num contract), and the running variance as the
      // q145-contract ordered-window float sum of exact-term doubles
      .withColumn("v_num", expr(
        """CASE WHEN n_risk > 1 THEN
          | cast(d as decimal(38,0)) * n1_risk * (n_risk - n1_risk) * (n_risk - d)
          |ELSE cast(0 as decimal(38,0)) END""".stripMargin))
      .select($"t".as("t_weeks"), $"n_risk", $"n1_risk",
        $"d".as("n_events"), $"d1".as("n_events_g1"),
        $"w_oe", sum($"w_oe").over(wCum).as("w_oe_cum"),
        $"v_num".cast("string").as("v_num"),
        greatest($"n_risk" - 1, lit(1L)).as("v_den"))
      .orderBy($"t_weeks")
  }

  /** Pettitt changepoint test per priority — the RANK-based (outlier-
    * robust) single-changepoint locator beside the mean-based CUSUM
    * family (q84/q131/q155): U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j),
    * argmax |U_t|. Uses the closed form U_t = Σ_{i≤t} s_i − t(n+1)
    * where s_i = 2·ltC + c + 1 is the DOUBLED midrank (an integer even
    * under ties — the q134 trick), so the whole statistic is exact
    * integers: one value-ordered window for the midranks, one
    * day-ordered window for the prefix sums, both over the
    * calendar-bounded daily series. Tie-break: earliest day. */
  def q190Pettitt(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
    val cells = daily.groupBy($"o_orderpriority", $"cents")
      .agg(count(lit(1)).as("c"))
    val wVal = Window.partitionBy($"o_orderpriority").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("lt_c", coalesce(sum($"c").over(wVal), lit(0L)))
      .withColumn("s", lit(2L) * $"lt_c" + $"c" + 1L)
      .select($"o_orderpriority".as("p2"), $"cents".as("v2"), $"s")
    val tot = daily.groupBy($"o_orderpriority".as("p3"))
      .agg(count(lit(1)).as("n_days"))
    val wDay = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val u = daily
      .join(ranked, $"o_orderpriority" === $"p2" && $"cents" === $"v2")
      .join(broadcast(tot), $"o_orderpriority" === $"p3")
      .withColumn("t", row_number().over(wDay).cast("long"))
      .withColumn("u_t", sum($"s").over(
        Window.partitionBy($"o_orderpriority").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, 0)) - $"t" * ($"n_days" + 1L))
    val wPick = Window.partitionBy($"o_orderpriority")
      .orderBy(abs($"u_t").desc, $"day")
    u.withColumn("rn", row_number().over(wPick))
      .filter($"rn" === 1)
      .select($"o_orderpriority", $"n_days", $"t".as("t_star"),
        $"day".as("day_star"), $"u_t".as("u_star"), abs($"u_t").as("k_stat"))
      .orderBy($"o_orderpriority")
  }

  /** Bounded harmonic centrality over the co-purchase graph: for the
    * top-5 hub nodes (degree desc, node asc — the q126 seed rule
    * widened to a seed SET), H(s) = Σ_v 1/d(s,v) truncated at 3 hops.
    * With d ∈ {1,2,3} the reciprocals are EXACT in sixths
    * (6·n₁ + 3·n₂ + 2·n₃), so the centrality is an integer — no
    * float. The BFS is the q126 frontier expansion carrying a seed
    * column: each hop is one join against the shared snapshotted edge
    * table + a distinct + an anti-join against the visited set, all
    * keyed by (seed, node) — 5 seeds ride ONE plan, not 5 traversals.
    * Frontiers localCheckpoint (lazily) for the q126 reason: the
    * per-hop counts and the next hop's anti-join would otherwise
    * re-execute the chained lineage per consumer. Truncated-BFS
    * centrality (Eppstein–Wang style seed sampling) is the standard
    * 100 TB posture — exact closeness is all-pairs and off the table;
    * the hop cap bounds state at |reachable ≤ 3|, and the result is a
    * 5-row frame (materializeAndRelease). */
  def q187Harmonic(spark: SparkSession, dir: String, hops: Int = 3): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    // r15 MEASURED DECLINE: persisting these edges hash-partitioned on
    // src (the q126/q57 shape) was implemented and measured at sf0.1
    // (full bench ×2): q187 1.80→2.42 s while the identical change
    // improved q126 (2.23→1.83 s) — REVERTED here. The 5-seed frontier
    // is 5× the single-hub one, the per-hop joins broadcast it either
    // way, and the extra cache-build shuffle never pays back.
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .orderBy($"deg".desc, $"src").limit(5)
      .select($"src".as("seed"))
    var visited = seeds.select($"seed", $"seed".as("node"))
    var frontier = visited
    val hopCounts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (h <- 1 to hops) {
      frontier = edges.join(frontier, $"src" === $"node")
        .select($"seed", $"dst".as("node")).distinct()
        .join(visited.select($"seed".as("s2"), $"node".as("v")),
          $"seed" === $"s2" && $"node" === $"v", "left_anti")
        .localCheckpoint(false)
      visited = visited.unionAll(frontier)
      hopCounts += frontier.groupBy($"seed")
        .agg(lit(h.toLong).as("hop"), count(lit(1)).as("n"))
    }
    val counts = hopCounts.reduce(_ unionAll _)
    val out = seeds
      .join(counts.filter($"hop" === 1).select($"seed".as("k1"), $"n".as("n1")),
        $"seed" === $"k1", "left")
      .join(counts.filter($"hop" === 2).select($"seed".as("k2"), $"n".as("n2")),
        $"seed" === $"k2", "left")
      .join(counts.filter($"hop" === 3).select($"seed".as("k3"), $"n".as("n3")),
        $"seed" === $"k3", "left")
      .select($"seed",
        coalesce($"n1", lit(0L)).as("n1"),
        coalesce($"n2", lit(0L)).as("n2"),
        coalesce($"n3", lit(0L)).as("n3"))
      .withColumn("harmonic_sixths", lit(6L) * $"n1" + lit(3L) * $"n2" + lit(2L) * $"n3")
      .orderBy($"seed")
    materializeAndRelease(spark, out, edges)
  }

  /** Cox–Stuart trend test counts per priority — the assumption-free
    * sign test FOR TREND (pair the series' first half against its
    * second half; a drift shows as one sign dominating), the
    * location-shift sibling of q181's paired sign test and the
    * simplest member of the q118/q171 trend family. Pairing rule
    * pinned in both engines: offset c = (n+1) div 2, pairs
    * t = 1..n div 2 of (x_t, x_{t+c}) — even n pairs everything,
    * odd n drops the middle day. Zeros REPORTED, not dropped (the
    * q181 convention: the downstream binomial picks its zero
    * policy explicitly). One day-ordered window over the
    * calendar-bounded daily frame + one rn-equijoin — all exact
    * integers. */
  def q193CoxStuart(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
    val first = daily.select($"o_orderpriority", $"rn", $"n", $"cents")
      .filter($"rn" <= $"n" / 2)
    val second = daily.select($"o_orderpriority".as("p2"),
      $"rn".as("rn2"), $"cents".as("cents2"))
    first
      .join(second, $"o_orderpriority" === $"p2" &&
        $"rn2" === $"rn" + expr("(n + 1) div 2"))
      .groupBy($"o_orderpriority")
      .agg(max($"n").cast("long").as("n_days"),
        count(lit(1)).as("n_pairs"),
        sum(when($"cents2" > $"cents", 1L).otherwise(0L)).as("n_pos"),
        sum(when($"cents2" < $"cents", 1L).otherwise(0L)).as("n_neg"),
        sum(when($"cents2" === $"cents", 1L).otherwise(0L)).as("n_zero"))
      .orderBy($"o_orderpriority")
  }

  /** Welch's t statistic inputs, 1995 vs 1996 order values per nation
    * — the UNEQUAL-variance companion of [[q188CohensD]] (same frame,
    * same exact sufficient statistics; Student's pooled form assumes
    * equal variances, which q135's variance-ratio screen routinely
    * rejects on this data). n, Σx, Σx² aggregate as exact decimals
    * off one fact pass; the exact SS strings ship alongside and
    * t = (m̄₁−m̄₂)/√(v₁/n₁+v₂/n₂) (and the Welch–Satterthwaite df)
    * evaluate in double from the exact sums — identical IEEE
    * expression trees in both engines, the q182/q188 discipline. */
  def q194WelchT(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", (year($"o_orderdate") === 1995).as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"n_name")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("n_a"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("n_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0))"))).as("s_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0))"))).as("s_b"),
        sum(when($"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_a"),
        sum(when(!$"is_a", expr("cast(cents as decimal(38,0)) * cents"))).as("q_b"))
      .filter($"n_a" >= 2 && $"n_b" >= 2)
      .withColumn("ss_a", expr("cast(n_a * q_a - s_a * s_a as decimal(38,0))"))
      .withColumn("ss_b", expr("cast(n_b * q_b - s_b * s_b as decimal(38,0))"))
      .filter($"ss_a" > 0 && $"ss_b" > 0)
      // se² terms: vᵢ/nᵢ with vᵢ = SSᵢ/(nᵢ(nᵢ−1)) — evaluate each in
      // double from the exact pieces, then the shared closed forms
      .withColumn("sea", expr("cast(ss_a as double) / (cast(n_a as double) * n_a * (n_a - 1))"))
      .withColumn("seb", expr("cast(ss_b as double) / (cast(n_b as double) * n_b * (n_b - 1))"))
      .select($"n_name", $"n_a", $"n_b",
        $"ss_a".cast("string").as("ss_a"),
        $"ss_b".cast("string").as("ss_b"),
        round((expr("cast(s_a as double)") / $"n_a" - expr("cast(s_b as double)") / $"n_b")
          / sqrt($"sea" + $"seb"), 6).as("welch_t"),
        round(($"sea" + $"seb") * ($"sea" + $"seb")
          / ($"sea" * $"sea" / ($"n_a" - 1) + $"seb" * $"seb" / ($"n_b" - 1)), 6)
          .as("welch_df"))
      .orderBy($"n_name")
  }

  /** Jarque–Bera normality inputs per priority over ORDER VALUES —
    * the sample-skewness/kurtosis screen (√b₁, b₂) the location/scale
    * tests upstream assume away. Raw power sums Σx..Σx⁴ aggregate as
    * exact decimal(38,0) off one pass (cents ~10⁷ so x⁴ ~10²⁸ and the
    * 100×-scale sum ~10³⁶ stays inside decimal(38) — headroom
    * documented; s3/s4 publish as STRING by the 38-digit rule); the
    * central moments expand from the raw sums ENTIRELY in double
    * (m₂ = s₂/n − m̄², m₃, m₄ via the binomial forms — s₁³ alone
    * would burst any fixed width), identical IEEE expression trees in
    * both engines, q182/q188 discipline; skew/kurt/JB round6. */
  def q191JarqueBera(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select($"o_orderpriority",
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(cents as decimal(38,0))")).as("s1"),
        sum(expr("cast(cents as decimal(38,0)) * cents")).as("s2"),
        sum(expr("cast(cents as decimal(38,0)) * cents * cents")).as("s3"),
        sum(expr("cast(cents as decimal(38,0)) * cents * cents * cents")).as("s4"))
      .filter($"n" >= 2)
      .withColumn("nd", expr("cast(n as double)"))
      .withColumn("m1", expr("cast(s1 as double) / nd"))
      .withColumn("m2", expr("cast(s2 as double) / nd - m1 * m1"))
      .withColumn("m3", expr("cast(s3 as double) / nd - 3 * m1 * (cast(s2 as double) / nd) + 2 * m1 * m1 * m1"))
      .withColumn("m4", expr(
        "cast(s4 as double) / nd - 4 * m1 * (cast(s3 as double) / nd) + 6 * m1 * m1 * (cast(s2 as double) / nd) - 3 * m1 * m1 * m1 * m1"))
      .withColumn("skew", $"m3" / sqrt($"m2" * $"m2" * $"m2"))
      .withColumn("kurt", $"m4" / ($"m2" * $"m2"))
      .select($"o_orderpriority", $"n",
        $"s1".cast("string").as("s1"),
        $"s2".cast("string").as("s2"),
        $"s3".cast("string").as("s3"),
        $"s4".cast("string").as("s4"),
        round($"skew", 6).as("skew"),
        round($"kurt", 6).as("kurt"),
        round($"nd" / 6 * ($"skew" * $"skew" + ($"kurt" - 3) * ($"kurt" - 3) / 4), 6)
          .as("jb"))
      .orderBy($"o_orderpriority")
  }

  /** Local clustering coefficient of the top-20 co-purchase hubs —
    * the per-node transitivity readout beside q58's global ratio
    * (which hubs sit in tight communities vs star centers):
    * cc_i = triangles_i / C(deg_i, 2) as an exact micro. Triangles
    * enumerate ONCE through the q58 three-leg join over the
    * snapshotted a<b edge list, then each triangle credits its three
    * corners (one explode + count — never a per-node neighborhood
    * self-join); degree and triangle tables both grow with the
    * corpus, so their join stays a shuffled hash (the q123 rule:
    * never broadcast a corpus-growing table). Top-20 by degree,
    * total-ordered. */
  def q192ClusteringCoeff(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val deg = pairs.select($"a".as("node")).unionAll(pairs.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    val triPerNode = pairs.as("ab")
      .join(pairs.as("bc"), col("ab.b") === col("bc.a"))
      .join(pairs.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(explode(array(col("ab.a"), col("ab.b"), col("bc.b"))).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("triangles"))
    deg.hint("shuffle_hash")
      .join(triPerNode.hint("shuffle_hash"), Seq("node"), "left")
      .withColumn("triangles", coalesce($"triangles", lit(0L)))
      .filter($"degree" >= 2)
      .withColumn("cc_micro", expr(
        "cast(2 * cast(triangles as decimal(38,0)) * 1000000 div (cast(degree as decimal(38,0)) * (degree - 1)) as bigint)"))
      .orderBy($"degree".desc, $"node")
      .limit(k)
      .select($"node", $"degree", $"triangles", $"cc_micro")
  }


  /** Gumbel method-of-moments inputs over weekly block maxima of
    * daily revenue per priority — the extreme-value-theory tier the
    * outlier screens (q30/q92/q154) don't cover: those ask "is this
    * point extreme", EVT asks "what does the distribution of BLOCK
    * EXTREMES look like" (capacity planning runs on exactly this).
    * ISO-Monday weeks pin the blocking in both engines; block maxima
    * and the sufficient sums n, Σm, Σm² are exact integers/decimals;
    * β̂ = s·√6/π and μ̂ = m̄ − γ·β̂ evaluate in double from the exact
    * sums with √6, π and Euler–Mascheroni γ as shared LITERAL doubles
    * (engine pi()/constant implementations never enter). Degenerate
    * (n<2 or zero-variance) priorities drop in both engines. */
  def q195BlockMaxima(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .groupBy($"o_orderpriority", date_trunc("week", $"day").cast("date").as("wk"))
      .agg(max($"cents").as("mx"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("cast(mx as decimal(38,0))")).as("s1"),
        sum(expr("cast(mx as decimal(38,0)) * mx")).as("s2"))
      .filter($"n_blocks" >= 2)
      .withColumn("ssb", expr("cast(n_blocks * s2 - s1 * s1 as decimal(38,0))"))
      .filter($"ssb" > 0)
      .withColumn("beta", expr(
        "sqrt(cast(ssb as double) / (cast(n_blocks as double) * (n_blocks - 1))) * 2.449489742783178 / 3.141592653589793"))
      .select($"o_orderpriority", $"n_blocks",
        $"s1".cast("string").as("s1"), $"s2".cast("string").as("s2"),
        round($"beta", 6).as("gumbel_beta"),
        round(expr("cast(s1 as double) / n_blocks - 0.5772156649015329 * beta"), 6)
          .as("gumbel_mu"))
      .orderBy($"o_orderpriority")

  /** Expected shortfall (CVaR) of daily revenue per priority — the
    * tail-severity readout beside the point-percentile q17 family:
    * VaR is the exact type-1 quantile at rank ⌈0.95·n⌉ in the
    * (cents, day)-total order, the tail is every day at or above that
    * rank, and CVaR = ⌊Σtail / n_tail⌋ — exact integers end-to-end,
    * no interpolation to diverge on. One value-ordered window per
    * priority over the calendar-bounded daily frame. */
  def q196Cvar(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"cents", $"day")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
      .withColumn("r_star", expr("(n * 95 + 99) div 100"))
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n_days"),
        max(when($"rn" === $"r_star", $"cents")).as("var_cents"),
        sum(when($"rn" >= $"r_star", 1L).otherwise(0L)).as("n_tail"),
        sum(when($"rn" >= $"r_star", expr("cast(cents as decimal(38,0))"))).as("tail_sum"))
      .select($"o_orderpriority", $"n_days", $"var_cents", $"n_tail",
        expr("cast(tail_sum div n_tail as bigint)").as("cvar_cents"))
      .orderBy($"o_orderpriority")
  }

  /** First-order partial correlation r(revenue, orders · customers)
    * per priority over the daily frame — the confound-adjusted
    * association the raw Pearson (q103's sibling) overstates when a
    * third series drives both. All three pairwise r's come off ONE
    * aggregate of exact decimal cross-sums (n, Σx.., Σxy..), each r
    * = one double division of exact pieces (q182 discipline), and
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) with the
    * degenerate guards (zero variance, |r|=1 collinearity) → NULL in
    * both engines. */
  def q197PartialCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("x"),
        count(lit(1)).as("y"),
        countDistinct($"o_custkey").as("z"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(z as decimal(38,0))")).as("sz"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
        sum(expr("cast(z as decimal(38,0)) * z")).as("szz"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * z")).as("sxz"),
        sum(expr("cast(y as decimal(38,0)) * z")).as("syz"))
      .filter($"n" >= 3)
      .withColumn("dx", expr("cast(n * sxx - sx * sx as decimal(38,0))"))
      .withColumn("dy", expr("cast(n * syy - sy * sy as decimal(38,0))"))
      .withColumn("dz", expr("cast(n * szz - sz * sz as decimal(38,0))"))
      .filter($"dx" > 0 && $"dy" > 0 && $"dz" > 0)
      .withColumn("rxy", expr(
        "cast(n * sxy - sx * sy as double) / sqrt(cast(dx as double) * cast(dy as double))"))
      .withColumn("rxz", expr(
        "cast(n * sxz - sx * sz as double) / sqrt(cast(dx as double) * cast(dz as double))"))
      .withColumn("ryz", expr(
        "cast(n * syz - sy * sz as double) / sqrt(cast(dy as double) * cast(dz as double))"))
      .select($"o_orderpriority", $"n",
        round($"rxy", 6).as("r_xy"), round($"rxz", 6).as("r_xz"),
        round($"ryz", 6).as("r_yz"),
        round(expr(
          """CASE WHEN (1 - rxz * rxz) * (1 - ryz * ryz) > 0 THEN
            |(rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) END""".stripMargin), 6)
          .as("partial_r"))
      .orderBy($"o_orderpriority")

  /** Cronbach's alpha over the priority "items" measured across the
    * COMPLETE weeks (ISO weeks where every priority traded — listwise
    * deletion pinned in both engines; weekly blocking because sparse
    * small-SF days rarely cover all items, vacuating the gate): the
    * internal-consistency readout α = k/(k−1)·(1 − Σᵢ SSᵢ/SS_T),
    * where the per-item and total-score SS are exact decimals off one
    * pass each and the n(n−1) variance denominators CANCEL (same
    * complete-week count everywhere) — so α is exact until ONE double
    * division. Output is a single audited row (the sim_ari shape):
    * k, n_weeks, the two exact SS strings, and α round6. */
  def q198CronbachAlpha(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority",
        date_trunc("week", to_date($"o_orderdate")).cast("date").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("x"))
    val kf = daily.agg(countDistinct($"o_orderpriority").as("k"))
    val complete = daily.groupBy($"day")
      .agg(count(lit(1)).as("np"), sum(expr("cast(x as decimal(38,0))")).as("t"))
      .crossJoin(broadcast(kf))
      .filter($"np" === $"k")
    val items = daily.join(broadcast(complete.select($"day")), Seq("day"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("ni"),
        sum(expr("cast(x as decimal(38,0))")).as("si"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("qi"))
      .agg(sum(expr("cast(ni * qi - si * si as decimal(38,0))")).as("ss_items"))
    val totals = complete
      .agg(max($"k").as("k"), count(lit(1)).as("n_weeks"),
        sum($"t").as("st"), sum(expr("cast(t * t as decimal(38,0))")).as("qt"))
      .withColumn("ss_total", expr("cast(n_weeks * qt - st * st as decimal(38,0))"))
    totals.crossJoin(broadcast(items))
      .filter($"k" >= 2 && $"n_weeks" >= 2 && $"ss_total" > 0)
      .select($"k", $"n_weeks",
        $"ss_items".cast("string").as("ss_items"),
        $"ss_total".cast("string").as("ss_total"),
        round(expr(
          """cast(k as double) / (k - 1)
            | * (1 - cast(ss_items as double) / cast(ss_total as double))""".stripMargin), 6)
          .as("alpha"))
  }

  /** Cook's distance + leverage of the daily-revenue-on-time OLS per
    * priority, top-3 most influential days — the regression
    * DIAGNOSTICS tier beside q74's fit: which single days move the
    * trend line. Exact pieces: den = nΣt²−(Σt)², slope numerator,
    * and the n·den-scaled residual — all decimal(38,0); the residual
    * rounds to whole CENTS through one shared double division
    * (cents-granular e keeps Σe² inside decimal(38) at ≥10⁴× test
    * scale where a micro-scaled e would burst it), then Σe² runs
    * exact over the rounded values (the inertia discipline). h_t and
    * D_t evaluate in double from exact pieces — identical IEEE trees
    * both engines — and the top-3 window is (D desc, day) inside the
    * priority partition, calendar-bounded. Perfect-fit (Σe² = 0) and
    * n ≤ 2 priorities drop in both engines. */
  def q199CooksDistance(spark: SparkSession, dir: String): DataFrame = {
    val wDay = Window.partitionBy($"o_orderpriority").orderBy($"day")
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("y"))
      .withColumn("t", row_number().over(wDay))
    val sums = daily.groupBy($"o_orderpriority".as("p"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(t as decimal(38,0))")).as("st"),
        sum(expr("cast(t as decimal(38,0)) * t")).as("st2"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(t as decimal(38,0)) * y")).as("sty"))
      .filter($"n" > 2)
      .withColumn("den", expr("cast(n * st2 - st * st as decimal(38,0))"))
      .withColumn("bnum", expr("cast(n * sty - st * sy as decimal(38,0))"))
      .filter($"den" > 0)
    val scored = daily
      .join(broadcast(sums), $"o_orderpriority" === $"p")
      .withColumn("e_r", expr(
        """cast(round(cast(den * (n * y - sy) - bnum * (n * t - st) as double)
          | / (cast(n as double) * cast(den as double)), 0) as bigint)""".stripMargin))
      .withColumn("h", expr(
        """1.0 / n + cast((n * t - st) * (n * t - st) as double)
          | / (cast(n as double) * cast(den as double))""".stripMargin))
      .withColumn("sum_e2",
        sum(expr("cast(e_r as decimal(38,0)) * e_r"))
          .over(Window.partitionBy($"o_orderpriority")))
      .filter($"sum_e2" > 0)
      .withColumn("s2", expr("cast(sum_e2 as double) / (n - 2)"))
      .withColumn("cook", expr(
        """(cast(e_r as double) * e_r / (2 * s2))
          | * (h / ((1 - h) * (1 - h)))""".stripMargin))
    val wTop = Window.partitionBy($"o_orderpriority")
      .orderBy($"cook".desc, $"day")
    scored.withColumn("rk", row_number().over(wTop))
      .filter($"rk" <= 3)
      .select($"o_orderpriority", $"day", $"y".as("cents"),
        round($"h", 6).as("leverage"), round($"cook", 6).as("cooks_d"))
      .orderBy($"o_orderpriority", $"day")
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k(N_k−1)) over the
    * co-purchase graph for a fixed degree ladder — do high-degree
    * hubs preferentially trade with each other (the Colizza et al.
    * readout q123's assortativity summarizes to one number). Degrees
    * join the edge list as a shuffled hash (both sides corpus-growing,
    * the q123 never-broadcast rule); each edge/node then expands
    * over the 6 LITERAL ladder rungs and aggregates — the ladder
    * frames are 6 rows, broadcast back onto the rung spine so every
    * rung reports even when empty (N_k < 2 → NULL φ, counts stay). */
  def q200RichClub(spark: SparkSession, dir: String): DataFrame = {
    val ks = "array(1, 2, 4, 8, 16, 32)"
    val pairs = copurchaseEdges(spark, dir)
    val deg = pairs.select($"a".as("node")).unionAll(pairs.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    val spine = spark.range(1).select(explode(expr(ks)).as("k"))
    val nk = deg.select(explode(expr(ks)).as("k"), $"degree")
      .filter($"degree" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("n_nodes"))
    val ek = pairs
      .join(deg.select($"node".as("a"), $"degree".as("da")).hint("shuffle_hash"), Seq("a"))
      .join(deg.select($"node".as("b"), $"degree".as("db")).hint("shuffle_hash"), Seq("b"))
      .select(least($"da", $"db").as("m"))
      .select(explode(expr(ks)).as("k"), $"m")
      .filter($"m" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("n_edges"))
    spine.join(broadcast(nk), Seq("k"), "left")
      .join(broadcast(ek), Seq("k"), "left")
      .withColumn("n_nodes", coalesce($"n_nodes", lit(0L)))
      .withColumn("n_edges", coalesce($"n_edges", lit(0L)))
      .select($"k".cast("long").as("k"), $"n_nodes", $"n_edges",
        expr("""CASE WHEN n_nodes >= 2 THEN
               |cast(2 * cast(n_edges as decimal(38,0)) * 1000000
               |  div (cast(n_nodes as decimal(38,0)) * (n_nodes - 1)) as bigint) END""".stripMargin)
          .as("phi_micro"))
      .orderBy($"k")
  }

  /** Adamic–Adar link scores over the co-purchase graph, top-20
    * non-edge pairs — the log-damped common-neighbour index beside
    * [[q130LinkPrediction]]'s raw count + Jaccard (a shared rare
    * neighbour is evidence, a shared hub is noise; AA downweights by
    * 1/lg deg). Every wedge contributes the exact integer milli
    * 2²⁰·1000 div lg₂fixed(deg w) off the shared fixed-point log2
    * recurrence (the entropy family's function — deg ≥ 2 for any
    * wedge interior, so the lg is never zero), summed exactly; the
    * wedge join and the degree attach hash on corpus-growing keys
    * (q123 never-broadcast rule), candidates anti-join the edge list,
    * top-20 total-ordered. */
  def q201AdamicAdar(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val pairs = copurchaseEdges(spark, dir)
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionAll(pairs.select($"b".as("src"), $"a".as("dst")))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val cn = edges.select($"src".as("n1"), $"dst".as("w"))
      .join(edges.select($"src".as("w"), $"dst".as("n2")), "w")
      .filter($"n1" < $"n2")
      .join(deg.select($"src".as("w"), $"deg".as("dw")).hint("shuffle_hash"), "w")
      .groupBy($"n1", $"n2")
      .agg(count(lit(1)).as("common_nbrs"),
        sum(expr("cast(1048576000 as bigint) div log2_fixed(dw)")).as("aa_milli"))
    cn.join(pairs.select($"a".as("n1"), $"b".as("n2")), Seq("n1", "n2"), "left_anti")
      .orderBy($"aa_milli".desc, $"n1", $"n2")
      .limit(k)
      .select($"n1", $"n2", $"common_nbrs", $"aa_milli")
  }

  /** Bowker symmetry terms over the 1995→1996 modal-priority
    * transition matrix — does customer preference DRIFT have a
    * direction, or do the i→j and j→i flows balance (the square-table
    * generalization of q143's McNemar, which this reduces to at
    * k = 2)? Modal priority per (customer, year) is total-ordered
    * (count desc, priority asc); the i<j pair spine reports EVERY
    * off-diagonal pair with both flow counts and the χ² term
    * (n_ij−n_ji)²·10⁶ div (n_ij+n_ji) as an exact micro — zero-flow
    * pairs publish NULL, not a dropped row. Everything past the
    * modal aggregate is k²-sized. */
  def q202Bowker(spark: SparkSession, dir: String): DataFrame = {
    val modal = Tables.orders(spark, dir)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .groupBy($"o_custkey", year($"o_orderdate").as("yr"), $"o_orderpriority")
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey", $"yr").orderBy($"c".desc, $"o_orderpriority")))
      .filter($"rn" === 1)
    val m95 = modal.filter($"yr" === 1995)
      .select($"o_custkey", $"o_orderpriority".as("p95"))
    val m96 = modal.filter($"yr" === 1996)
      .select($"o_custkey", $"o_orderpriority".as("p96"))
    val cells = m95.join(m96, "o_custkey")
      .groupBy($"p95", $"p96").agg(count(lit(1)).as("c"))
    val ps = cells.select($"p95".as("p")).unionAll(cells.select($"p96".as("p"))).distinct()
    ps.select($"p".as("i")).crossJoin(broadcast(ps.select($"p".as("j"))))
      .filter($"i" < $"j")
      .join(broadcast(cells.select($"p95".as("i"), $"p96".as("j"), $"c".as("nij"))),
        Seq("i", "j"), "left")
      .join(broadcast(cells.select($"p96".as("i"), $"p95".as("j"), $"c".as("nji"))),
        Seq("i", "j"), "left")
      .withColumn("n_ij", coalesce($"nij", lit(0L)))
      .withColumn("n_ji", coalesce($"nji", lit(0L)))
      .select($"i", $"j", $"n_ij", $"n_ji",
        expr("""CASE WHEN n_ij + n_ji > 0 THEN
               |cast(cast(n_ij - n_ji as decimal(38,0)) * (n_ij - n_ji) * 1000000
               |  div (n_ij + n_ji) as bigint) END""".stripMargin).as("term_micro"))
      .orderBy($"i", $"j")
  }

  /** Dixon's Q ratio inputs per priority — the small-sample outlier
    * screen at both ends of the daily-revenue order statistics
    * (gap-to-range ratios; the q154 Grubbs sibling that needs no
    * variance): Q_low = (x₂−x₁)/(xₙ−x₁), Q_high = (xₙ−xₙ₋₁)/(xₙ−x₁),
    * both exact integer micros off the four extreme order statistics
    * in the (cents, day) total order. One value-ordered window per
    * priority (the rank-from-top derives from the same window via
    * n−rn+1 — no second sort); constant-series (range 0) → NULL in
    * both engines. */
  def q203DixonQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"cents", $"day")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      .withColumn("ra", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
      .withColumn("rd", $"n" - $"ra" + 1)
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n_days"),
        max(when($"ra" === 1, $"cents")).as("min1"),
        max(when($"ra" === 2, $"cents")).as("min2"),
        max(when($"rd" === 1, $"cents")).as("max1"),
        max(when($"rd" === 2, $"cents")).as("max2"))
      .filter($"n_days" >= 3)
      .select($"o_orderpriority", $"n_days", $"min1", $"max1",
        expr("""CASE WHEN max1 > min1 THEN
               |cast(cast(min2 - min1 as decimal(38,0)) * 1000000 div (max1 - min1) as bigint) END""".stripMargin)
          .as("q_low_micro"),
        expr("""CASE WHEN max1 > min1 THEN
               |cast(cast(max1 - max2 as decimal(38,0)) * 1000000 div (max1 - min1) as bigint) END""".stripMargin)
          .as("q_high_micro"))
      .orderBy($"o_orderpriority")
  }

  /** Kendall's τ-b between priority rank and price band — the
    * tie-corrected rank correlation completing the ordinal family
    * (q178's γ ignores ties entirely, Somers' D corrects one margin;
    * τ-b corrects both): C and D from the q178 cell-pair device
    * (exact decimal cell products, corpus touched once), the tie
    * terms n₁/n₂ from the MARGINS alone (no pair frame needed), and
    * τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)) as one double expression over
    * exact sums. All pair counts published exact (n²-class ≤ int64
    * to ~3e9 rows, the q178 headroom note). */
  def q204KendallTauB(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(expr("cast(substring(o_orderpriority, 1, 1) as bigint)").as("x"),
        expr("least(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 5000000, 9)").as("y"))
    val cells = base.groupBy($"x", $"y").agg(count(lit(1)).as("a"))
    val pairs = cells.as("a").crossJoin(broadcast(cells.as("b")))
      .filter(expr("a.x < b.x OR (a.x = b.x AND a.y < b.y)"))
      .select(col("a.x").as("xa"), col("a.y").as("ya"), col("a.a").as("na"),
        col("b.x").as("xb"), col("b.y").as("yb"), col("b.a").as("nb"))
    val pp = expr("cast(na as decimal(38,0)) * nb")
    val cd = pairs.agg(
      sum(when($"xa" < $"xb" && $"ya" < $"yb", pp).otherwise(lit(0))).as("c_d"),
      sum(when($"xa" < $"xb" && $"ya" > $"yb", pp).otherwise(lit(0))).as("d_d"))
    val margins = cells.agg(sum(expr("cast(a as decimal(38,0))")).as("n"))
    val tx = cells.groupBy($"x").agg(sum($"a").as("t"))
      .agg(sum(expr("cast(t as decimal(38,0)) * (t - 1)")).as("n1_2"))
    val ty = cells.groupBy($"y").agg(sum($"a").as("t"))
      .agg(sum(expr("cast(t as decimal(38,0)) * (t - 1)")).as("n2_2"))
    margins.crossJoin(broadcast(cd))
      .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .withColumn("n0_2", expr("n * (n - 1)"))
      .filter($"n0_2" > $"n1_2" && $"n0_2" > $"n2_2")
      .select($"n".cast("bigint").as("n"),
        $"c_d".cast("bigint").as("c_pairs"), $"d_d".cast("bigint").as("d_pairs"),
        expr("cast(n1_2 div 2 as bigint)").as("n1_pairs"),
        expr("cast(n2_2 div 2 as bigint)").as("n2_pairs"),
        round(expr(
          """(cast(c_d as double) - cast(d_d as double))
            | / sqrt(cast(n0_2 - n1_2 as double) / 2 * (cast(n0_2 - n2_2 as double) / 2))""".stripMargin), 6)
          .as("tau_b"))
  }

  /** Two-sample Anderson–Darling inputs per region (URGENT vs LOW
    * order totals) — the tail-weighted member completing the EDF
    * two-sample trio (KS q108 = sup norm, CvM q134 = integrated L²,
    * AD = the L² weighted by 1/(F(1−F)), the one with power in the
    * TAILS where pricing anomalies live). Statistic: the
    * right-continuous-EDF k-sample form (Scholz–Stephens eq. 4
    * restricted to k = 2) on tie cells, A² = (1/N)·Σ_a (1/n_a)·
    * Σ_{j: B_j<N} l_j·(N·M_aj − n_a·B_j)²/(B_j·(N−B_j)): every piece
    * is an exact integer off the q134 cell frame — B/M are INCLUSIVE
    * cumulative counts from the same two-phase distributed prefix
    * sums (never a corpus-serial window) — and each cell's term
    * floors ONCE to micro (numerator nonnegative: squared, so
    * trunc == floor), summed exactly. The two inner sums publish as
    * exact decimal TEXT (N³-class at 100×: l·(NM−nB)² ~ N³·micro);
    * A² evaluates in double from the exact integers as one fixed
    * expression. Regions missing either sample drop (the statistic
    * is undefined), matching the oracle's HAVING. */
  def q205AndersonDarling(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", ($"o_orderpriority" === "1-URGENT").as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val cells = o.groupBy($"r_name", $"cents")
      .agg(count(lit(1)).as("c_tot"),
        sum(when($"is_a", 1L).otherwise(0L)).as("c_a"))
      .withColumn("c_b", $"c_tot" - $"c_a")
    val bkt = CorpusPipeline.equiWidthBucket(cells, "cents")
    val ranked = CorpusPipeline.prefixSumsExclusive(cells, "r_name", Seq($"cents"),
        Seq("c_tot" -> "_ltC", "c_a" -> "_ltA", "c_b" -> "_ltB"), bkt)
      .withColumn("bj", $"_ltC" + $"c_tot")   // inclusive pooled EDF count
      .withColumn("ma", $"_ltA" + $"c_a")     // inclusive per-sample counts
      .withColumn("mb", $"_ltB" + $"c_b")
      // group totals fall out of the inclusive prefix maxima — no
      // second pass over the order scan
      .withColumn("n_tot", max($"bj").over(Window.partitionBy($"r_name")))
      .withColumn("n_a", max($"ma").over(Window.partitionBy($"r_name")))
      .withColumn("n_b", max($"mb").over(Window.partitionBy($"r_name")))
      .filter($"n_a" > 0 && $"n_b" > 0)
    // per-cell floored micro term: l·(N·M − n·B)²·10⁶ div (B·(N−B));
    // numerator is a square ⇒ nonnegative ⇒ trunc == floor
    def inner(m: String, na: String) = expr(
      s"""sum(CASE WHEN bj < n_tot THEN
         | cast(c_tot as decimal(38,0))
         |  * (cast(n_tot as decimal(38,0)) * $m - cast($na as decimal(38,0)) * bj)
         |  * (cast(n_tot as decimal(38,0)) * $m - cast($na as decimal(38,0)) * bj)
         |  * 1000000
         |  div (cast(bj as decimal(38,0)) * (n_tot - bj)) ELSE 0 END)""".stripMargin)
    ranked
      .groupBy($"r_name")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"), max($"n_tot").as("n_tot"),
        inner("ma", "n_a").as("ia"), inner("mb", "n_b").as("ib"))
      .select($"r_name", $"n_a", $"n_b",
        $"ia".cast("string").as("inner_a_micro"),
        $"ib".cast("string").as("inner_b_micro"),
        round(expr(
          """(cast(ia as double) / cast(n_a as double)
            | + cast(ib as double) / cast(n_b as double))
            | / (cast(n_tot as double) * 1e6)""".stripMargin), 6).as("a2_stat"))
      .orderBy($"r_name")
  }

  /** Quade-test inputs over the Friedman blocks — the blocked-rank
    * test WEIGHTED by block informativeness (Friedman q152 treats a
    * $100 week and a $10M week as equal blocks; Quade multiplies each
    * block's within-ranks by the rank of the block's RANGE, the more
    * powerful test at small k). Within-block doubled midranks come
    * from the q152 device verbatim (≤ k² self-join per block, never
    * corpus-keyed); block-range doubled midranks ride ONE
    * calendar-bounded window over the weekly frame (≈ 300 rows for
    * the full TPC-H calendar — the q136/q75 serial-by-design
    * contract). S4_ij = q2_i·(r2_ij − k − 1) = 4·S_ij stays an exact
    * integer; per-treatment S4_j and A16 = Σ S4² publish exact, and
    * the F statistic (n−1)·ΣS4_j² / (n·A16 − ΣS4_j²) is one double
    * division of exact integers. Degenerate A16·n = ΣS4_j² (all
    * blocks identically ordered) guards to NULL both engines. */
  def q206Quade(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority",
        expr("unix_date(cast(o_orderdate as date)) div 7").as("wk"))
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("cents"))
    val complete = weekly.groupBy($"wk").agg(count(lit(1)).as("np"))
      .filter($"np" === 5).select($"wk")
    val wv = weekly.join(broadcast(complete), "wk")
    val other = wv.select($"wk".as("wk2"), $"cents".as("c2"))
    val r2 = wv.join(other, $"wk" === $"wk2")
      .groupBy($"o_orderpriority", $"wk")
      .agg((sum(when($"c2" < $"cents", 2L).otherwise(0L))
        + sum(when($"c2" === $"cents", 1L).otherwise(0L)) + lit(1L)).as("r2"))
    val ranges = wv.groupBy($"wk")
      .agg((max($"cents") - min($"cents")).as("rng"))
    val wRng = Window.orderBy($"rng")
    val wTie = Window.partitionBy($"rng")
    val q2 = ranges
      .withColumn("q2", lit(2L) * rank().over(wRng) + count(lit(1)).over(wTie) - 1L)
      .select($"wk".as("wk3"), $"q2")
    val s4 = r2.join(broadcast(q2), $"wk" === $"wk3")
      .withColumn("s4", $"q2" * ($"r2" - 6L))
    val perTreat = s4.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("cast(s4 as decimal(38,0))")).as("s4_sum"))
    val scal = s4.agg(
      sum(expr("cast(s4 as decimal(38,0)) * s4")).as("a16"))
    val fstat = perTreat
      .agg(max($"n_blocks").as("nb"),
        sum(expr("cast(s4_sum as decimal(38,0)) * s4_sum")).as("b16n"))
      .crossJoin(broadcast(scal))
      .select($"nb", $"b16n", $"a16",
        expr("""CASE WHEN cast(nb as decimal(38,0)) * a16 - b16n > 0 THEN
               |cast(cast((nb - 1) as decimal(38,0)) * b16n as double)
               | / cast(cast(nb as decimal(38,0)) * a16 - b16n as double) END""".stripMargin)
          .as("f"))
    perTreat.crossJoin(broadcast(fstat))
      .select($"o_orderpriority", $"n_blocks",
        $"s4_sum".cast("bigint").as("s4_sum"),
        $"a16".cast("string").as("a16"),
        round($"f", 6).as("f_stat"))
      .orderBy($"o_orderpriority")
  }

  /** Theil T inequality of customer revenue with its between/within
    * NATION decomposition — the member of the inequality family
    * (Gini q66, Lorenz q125, Atkinson q128, HHI q77) whose whole
    * point is additive DECOMPOSABILITY: T = T_between + Σ_g w_g·T_g,
    * the "how much inequality lives inside vs across markets"
    * readout. All logs are the shared fixed-point lg₂ recurrence
    * (the entropy/perplexity contract, base-2 Theil — a constant
    * factor off natural-log Theil, documented): per customer
    * x·(lg x + lg n_g − lg S_g) sums exactly in DECIMAL(38); the
    * published milli values divide once, SIGN-SPLIT because the
    * fixed-point lg is not exactly additive (a near-uniform nation
    * can land epsilon-negative, where Spark div truncates but DuckDB
    * // floors — the q182/ari lesson applied at design time).
    * Between-terms are genuinely signed (a below-average-revenue
    * nation contributes negative). One customer-keyed aggregate,
    * one 25-row nation frame; nothing past the first groupBy scales
    * with orders. */
  def q207TheilIndex(spark: SparkSession, dir: String): DataFrame = {
    def lgS(x: String): String =
      s"(CASE WHEN ($x) < 8796093022208 THEN log2_fixed($x)" +
        s" ELSE log2_fixed(($x) div shiftleft(cast(1 as bigint), length(bin($x)) - 43))" +
        s" + cast(length(bin($x)) - 43 as bigint) * 1048576 END)"
    def signedDiv(num: String, den: String): String =
      s"""cast(CASE WHEN ($num) < 0 THEN -((-($num)) div ($den))
         |     ELSE ($num) div ($den) END as bigint)""".stripMargin
    val cust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(expr("cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)) as bigint)")
        .as("x"))
      .filter($"x" > 0)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"x")
    val grp = cust.groupBy($"n_name".as("g"))
      .agg(count(lit(1)).as("n_g"), sum($"x").as("s_g"))
    val within = cust.join(broadcast(grp), $"n_name" === $"g")
      .groupBy($"n_name")
      .agg(sum(expr(
        s"""cast(x as decimal(38,0))
           | * (${lgS("x")} + ${lgS("n_g")} - ${lgS("s_g")})""".stripMargin)).as("wnum"))
    val tot = grp.agg(sum($"n_g").as("n_tot"), sum($"s_g").as("s_tot"))
    grp.join(within, $"g" === $"n_name")
      .crossJoin(broadcast(tot))
      .withColumn("bterm", expr(
        s"""cast(s_g as decimal(38,0))
           | * (${lgS("s_g")} + ${lgS("n_tot")} - ${lgS("n_g")} - ${lgS("s_tot")})""".stripMargin))
      .select($"n_name", $"n_g".as("n_cust"), $"s_g".as("revenue_cents"),
        expr(signedDiv("wnum * 1000", "cast(s_g as decimal(38,0)) * 1048576"))
          .as("t_within_milli"),
        expr(signedDiv("bterm * 1000", "cast(s_tot as decimal(38,0)) * 1048576"))
          .as("between_term_milli"))
      .orderBy($"n_name")
  }

  /** Brunner–Munzel rank inputs per region (URGENT vs LOW order
    * totals on the q134/q205 frame) — the modern replacement for
    * Mann–Whitney when the two samples' dispersions differ (q112
    * assumes exchangeable shapes; BM estimates the relative effect
    * p̂ = P(X_A < X_B) + ½P(=) with a variance that tolerates
    * heteroscedasticity — the Behrens–Fisher situation in ranks).
    * All rank machinery runs at the exact DOUBLED-midrank scale off
    * the shared two-phase prefix sums (combined AND within-sample
    * midranks from the same cell pass): p̂ = (ΣR2_B − n_b(n_b+1)) /
    * (2·n_a·n_b) publishes as an exact nonneg micro; the variance
    * pieces S4n_i = Σ_j (n_i·(R2_ij − W2_ij + n_i + 1) − ΣR2_i)²
    * (the n_i-scaled, 4×-scaled deviations — integral, no midrank
    * halves) publish as exact decimal TEXT (N³-class); the scipy-
    * convention statistic T = n_a·n_b·(R̄_B − R̄_A)/((n_a+n_b)·
    * √(n_a·S_A² + n_b·S_B²)) evaluates in double from the exact
    * integers as one fixed expression. Degenerate zero variance
    * (all ties) → NULL T in both engines. */
  def q209BrunnerMunzel(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", ($"o_orderpriority" === "1-URGENT").as("is_a"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val cells = o.groupBy($"r_name", $"cents")
      .agg(count(lit(1)).as("c_tot"),
        sum(when($"is_a", 1L).otherwise(0L)).as("c_a"))
      .withColumn("c_b", $"c_tot" - $"c_a")
    val bkt = CorpusPipeline.equiWidthBucket(cells, "cents")
    val ranked = CorpusPipeline.prefixSumsExclusive(cells, "r_name", Seq($"cents"),
        Seq("c_tot" -> "_ltC", "c_a" -> "_ltA", "c_b" -> "_ltB"), bkt)
      // combined and within-sample DOUBLED midranks per tie cell
      .withColumn("r2", lit(2L) * $"_ltC" + $"c_tot" + 1L)
      .withColumn("w2a", lit(2L) * $"_ltA" + $"c_a" + 1L)
      .withColumn("w2b", lit(2L) * $"_ltB" + $"c_b" + 1L)
      .withColumn("n_a", max($"_ltA" + $"c_a").over(Window.partitionBy($"r_name")))
      .withColumn("n_b", max($"_ltB" + $"c_b").over(Window.partitionBy($"r_name")))
      .filter($"n_a" >= 2 && $"n_b" >= 2)
    // per-sample doubled-rank sums first (needed inside the deviance)
    val sums = ranked.groupBy($"r_name".as("rs"))
      .agg(sum(expr("cast(c_a as decimal(38,0)) * r2")).as("sr2a"),
        sum(expr("cast(c_b as decimal(38,0)) * r2")).as("sr2b"))
    // per-cell deviance term: c · (n·(r2 − w2 + n + 1) − ΣR2)²
    def dev(c: String, w2: String, n: String, sr: String) = expr(
      s"""sum(cast($c as decimal(38,0))
         | * (cast($n as decimal(38,0)) * (r2 - $w2 + $n + 1) - $sr)
         | * (cast($n as decimal(38,0)) * (r2 - $w2 + $n + 1) - $sr))""".stripMargin)
    ranked.join(broadcast(sums), $"r_name" === $"rs")
      .groupBy($"r_name")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        max($"sr2a").as("sr2a"), max($"sr2b").as("sr2b"),
        dev("c_a", "w2a", "n_a", "sr2a").as("s4na"),
        dev("c_b", "w2b", "n_b", "sr2b").as("s4nb"))
      .select($"r_name", $"n_a", $"n_b",
        expr("""cast((sr2b - cast(n_b as decimal(38,0)) * (n_b + 1)) * 1000000
               | div (2 * cast(n_a as decimal(38,0)) * n_b) as bigint)""".stripMargin)
          .as("p_hat_micro"),
        $"s4na".cast("string").as("s4n_a"),
        $"s4nb".cast("string").as("s4n_b"),
        round(expr(
          """CASE WHEN s4na + s4nb > 0 THEN
            | (cast(n_a as double) * n_b)
            |  * (cast(sr2b as double) / (2 * cast(n_b as double))
            |     - cast(sr2a as double) / (2 * cast(n_a as double)))
            |  / (cast(n_a + n_b as double)
            |     * sqrt(cast(n_a as double)
            |        * (cast(s4na as double) / (4 * cast(n_a as double) * n_a * (n_a - 1)))
            |      + cast(n_b as double)
            |        * (cast(s4nb as double) / (4 * cast(n_b as double) * n_b * (n_b - 1)))))
            |END""".stripMargin), 6).as("bm_t"))
      .orderBy($"r_name")
  }

  /** Fisher index of dispersion of daily order COUNTS per priority —
    * the overdispersion screen on arrival counts (VMR = 1 is the
    * Poisson reference; clumped order flow pushes it up, a regular
    * feed below — the capacity model's validity check). Over trading
    * days (days with ≥ 1 order of the priority — documented frame).
    * VMR = (nΣc²−(Σc)²)/((n−1)·Σc) is an exact nonnegative rational
    * (Cauchy–Schwarz ⇒ trunc == floor) published at micro scale, and
    * the χ²-distributed test statistic D = (n−1)·VMR is the same
    * division without the (n−1): both exact integer micros off ONE
    * daily aggregate. */
  def q208Dispersion(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_days"), sum($"c").as("sum_c"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("sum_c2"))
      .filter($"n_days" >= 2 && $"sum_c" > 0)
      .withColumn("ssn", expr(
        "cast(cast(n_days as decimal(38,0)) * sum_c2 - cast(sum_c as decimal(38,0)) * sum_c as decimal(38,0))"))
      .select($"o_orderpriority", $"n_days", $"sum_c".cast("bigint").as("sum_c"),
        expr("cast(ssn * 1000000 div (cast((n_days - 1) as decimal(38,0)) * sum_c) as bigint)")
          .as("vmr_micro"),
        expr("cast(ssn * 1000000 div cast(sum_c as decimal(38,0)) as bigint)")
          .as("d_stat_micro"))
      .orderBy($"o_orderpriority")
}
