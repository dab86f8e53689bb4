package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.Tables._

/** Relational operator surface over the TPC-H-ish fixture tables:
  * multi-key aggregation, equi/broadcast joins, semi/anti joins, top-k
  * (TakeOrderedAndProject), window functions, rollup/grouping sets, set
  * ops, distinct aggregation, scalar string/date/JSON functions.
  *
  * The reference (grey-h/app-insights-generator `main.py`) implements none
  * of these (SURVEY.md §2.2) — they are the extension surface mandated by
  * BASELINE.json. Every query here is deterministic and DuckDB-expressible
  * (ties broken by unique keys; money summed in exact integer cents).
  *
  * Scale notes (100 TB posture): dimension joins use `broadcast(...)`
  * explicitly; fact-fact joins shuffle on their join keys only after
  * filters (which Catalyst pushes into the parquet scan); top-k uses
  * orderBy+limit which plans as TakeOrderedAndProject (no global sort).
  */
object Relational {

  /** TPC-H Q1-style pricing summary: single shuffle, partial aggregation
    * map-side; sums in exact cents. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(revenueCents(col("l_extendedprice"), col("l_discount"))).as("sum_disc_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")) * 100)
          .cast("long")).as("sum_charge_cents"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style: top-10 highest-revenue open orders for a market
    * segment. Dimension side (filtered customer) is broadcast. */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, dir).filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val l = lineitem(s, dir).filter(col("l_shipdate") > lit("1996-07-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(revenueCents(col("l_extendedprice"), col("l_discount"))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q4-style: order-priority count over orders that have at least
    * one heavy lineitem — left-semi join (EXISTS). */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = lineitem(s, dir).filter(col("l_quantity") > 45)
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5-style: revenue by nation through a 6-table star join;
    * region/nation/supplier broadcast, customer-orders-lineitem shuffle. */
  def q5NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val r = region(s, dir).filter(col("r_name") === "ASIA")
    val n = nation(s, dir)
    val c = customer(s, dir)
    val sup = supplier(s, dir)
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = lineitem(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenueCents(col("l_extendedprice"), col("l_discount"))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** TPC-H Q6-style: single-pass filtered revenue sum (one row). */
  def q6RevenueFilter(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
        .as("revenue_cents"), count(lit(1)).as("n_rows"))
  }

  /** Anti join (NOT EXISTS): customers with no orders, counted by segment. */
  def joinAntiCustomers(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Per-group top-k via window row_number (ties broken by key):
    * top-3 customers by balance per nation. */
  def topkCustomersPerNation(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rn"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("n_name"), col("rn"))
  }

  /** Running total per customer (window frame sum, exact cents). */
  def windowRunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** lag/lead over event streams per user (exact value pick, no math). */
  def windowLagEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy(col("event_id"))
  }

  /** RANGE-frame window: per-user trailing-hour event value — the frame
    * is bounded by the ORDER BY VALUE (seconds), not row counts, so
    * peers at equal timestamps aggregate identically regardless of
    * intra-frame order (sum/count over exact cents = deterministic). */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-3600L, 0L) // trailing hour, inclusive
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 1000000").as("ts_sec"),
        cents(col("value")).as("vc"))
      .select(col("event_id"), col("user_id"), col("ts_sec"),
        sum(col("vc")).over(w).as("hour_cents"),
        count(lit(1)).over(w).cast("long").as("hour_events"))
      .orderBy(col("event_id"))
  }

  /** ROLLUP with grouping() — the declarative form of the reference's
    * hand-rolled grouping-set enumeration (SURVEY.md §2.1 O15). */
  def rollupLineitem(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n_rows"), col("sum_qty"), col("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** Array-function surface: per-customer sorted distinct order years
    * (collect_set → array_sort makes the unordered aggregate
    * deterministic), with cardinality / membership / endpoint lookups.
    * The array is serialized to CSV text for engine-portable comparison
    * (array column hashing differs across engines). */
  def arrayOrderYears(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(array_sort(collect_set(year(col("o_orderdate")).cast("long")))
        .as("years"))
      .select(col("o_custkey"),
        array_join(col("years"), ",").as("years_csv"),
        size(col("years")).cast("long").as("n_years"),
        array_contains(col("years"), 1995L).as("has_1995"),
        element_at(col("years"), 1).as("first_year"),
        element_at(col("years"), -1).as("last_year"))
      .orderBy(col("o_custkey"))

  /** Explicit GROUPING SETS (the general form behind rollup/cube — and
    * the declarative equivalent of the reference's hand-picked subset
    * lists): three chosen subsets in ONE aggregate pass via Expand,
    * driven through the SQL frontend. */
  def groupingSetsOrders(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
        |         AS BIGINT) AS gid
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** Exact distinct aggregation (partial-distinct + final, two-phase). */
  def distinctPartsPerFlag(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** INTERSECT: customers who ordered in both 1995 and 1996. */
  def setIntersectCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val y1995 = o.filter(yearIs(col("o_orderdate"), 1995)).select(col("o_custkey"))
    val y1996 = o.filter(yearIs(col("o_orderdate"), 1996)).select(col("o_custkey"))
    y1995.intersect(y1996).orderBy(col("o_custkey"))
  }

  /** EXCEPT: customers who ordered in 1995 but not in 1996. */
  def setExceptCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val y1995 = o.filter(yearIs(col("o_orderdate"), 1995)).select(col("o_custkey"))
    val y1996 = o.filter(yearIs(col("o_orderdate"), 1996)).select(col("o_custkey"))
    y1995.except(y1996).orderBy(col("o_custkey"))
  }

  /** Scalar string functions over part (projection only, codegen'd). */
  def scalarStringPart(s: SparkSession, dir: String): DataFrame = {
    part(s, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_upper"),
      length(col("p_name")).cast("long").as("name_len"),
      size(split(col("p_name"), " ")).cast("long").as("name_words"),
      regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))
  }

  /** Scalar date functions: orders per (year, month) + month floor. */
  def scalarDateOrders(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_year"), col("o_month"))
  }

  /** JSON property extraction from the events `props` column (regexp-based
    * so both engines share exact semantics; `from_json` is exercised in
    * unit tests where no oracle parity is required). */
  def jsonPropsEvents(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Typed JSON parsing via `from_json` (the declared counterpart of the
    * regexp form above — DuckDB's json_extract_string oracles it fine):
    * parse props into a struct, bucket k into deciles, aggregate. */
  def jsonParseEvents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy(pmod(col("k"), lit(10L)).as("k_decile"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy(col("k_decile"))
  }

  /** Schemaless JSON via Spark 4 VARIANT — the third JSON path beside
    * regexp (`json_props_events`) and typed `from_json`
    * (`json_parse_events`): `parse_json` shreds each props document into
    * the binary VARIANT encoding once, and `variant_get` path-extracts
    * with a type coercion at read time. This is the semi-structured
    * ingestion shape when the schema is NOT known up front: parse once,
    * extract many, no per-field regexp rescans. Extraction is per-row
    * (codegen'd), the aggregate is one shuffle; the variant itself never
    * reaches the output (engine-specific binary). */
  def jsonVariantEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), col("user_id"),
        try_variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        countDistinct(pmod(col("k"), lit(7L))).as("n_k_mod7"))
      .orderBy(col("event_type"))

  /** Approximate sketches: HLL++ distinct count + quantile summaries.
    * Estimator internals are engine-specific, so the raw estimates can
    * never hash-match DuckDB; instead the query emits SELF-CHECKING
    * tolerance verdicts — exact value + a boolean "estimate within
    * bounds" computed in the same aggregate — so the oracle (which
    * asserts the verdicts are all true) gives a real pass/fail signal.
    * Bounds: HLL++ rsd defaults to 5%, so ±10% (2σ) on the distinct
    * count; approx_percentile's rank-error guarantee is n/accuracy =
    * n/10000, far inside the exact-percentile band at p±0.02 used here.
    * At 100 TB you would drop the exact columns — they exist purely as
    * the embedded correctness oracle for the sketch path. */
  def aggApproxOrders(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    // distinct-count and percentile branches aggregate SEPARATELY and
    // join on the 3-row group key: mixing countDistinct (plans an Expand
    // + two-phase distinct agg) with TypedImperativeAggregate percentiles
    // in one Aggregate forces everything through a single sort-based
    // pass — measured 4.7 s vs 0.8 s for this split at sf0.1, local[32]
    val d = o.groupBy(col("o_orderstatus"))
      .agg(approx_count_distinct(col("o_custkey")).as("approx_custs"),
        countDistinct(col("o_custkey")).as("exact_custs"),
        count(lit(1)).as("n_rows"))
    val p = o.groupBy(col("o_orderstatus"))
      .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.95))").as("aq"),
        expr("percentile(o_totalprice, array(0.48, 0.52, 0.93, 0.97))").as("eq"))
    d.join(p, "o_orderstatus")
      .select(col("o_orderstatus"), col("n_rows"), col("exact_custs"),
        (abs(col("approx_custs") - col("exact_custs"))
          <= col("exact_custs") * 0.10).as("custs_ok"),
        element_at(col("aq"), 1).between(
          element_at(col("eq"), 1), element_at(col("eq"), 2)).as("p50_ok"),
        element_at(col("aq"), 2).between(
          element_at(col("eq"), 3), element_at(col("eq"), 4)).as("p95_ok"))
      .orderBy(col("o_orderstatus"))
  }

  /** TPC-H Q13-style: order-count distribution over a LEFT OUTER join
    * (customers with zero orders appear with c_count = 0). */
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT")
    customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count skips the null side
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17-style via the SQL frontend: correlated scalar subquery
    * (per-part average quantity), decorrelated by Catalyst into an
    * aggregate + join — exercises spark.sql() + subquery planning. */
  def q17SmallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    part(s, dir).createOrReplaceTempView("graft_part")
    s.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_price_cents,
        |       count(*) AS n_rows
        |FROM graft_lineitem JOIN graft_part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM graft_lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** Native relational pivot (`RelationalGroupedDataset.pivot` with a
    * fixed value set → deterministic columns) — event counts per type
    * by day. */
  def pivotEventsDaily(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day_bucket"),
        col("event_type"))
      .groupBy(col("day_bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("day_bucket"))

  /** Exact percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`:
    * both linearly interpolate at p·(n−1) over the sorted values, so the
    * doubles agree bit-for-bit) + min/max/exact-cents avg per group. */
  def aggStatsOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        // one percentile buffer for both quantiles (array form), not two
        // independent sort buffers per group
        expr("percentile(o_totalprice, array(0.5, 0.95))").as("pcts"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(cents(col("o_totalprice"))).as("sum_cents"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderstatus"),
        element_at(col("pcts"), 1).as("median_price"),
        element_at(col("pcts"), 2).as("p95_price"),
        col("min_price"), col("max_price"), col("sum_cents"), col("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Rank-family window functions: rank / dense_rank / ntile / cume_dist
    * over customer balances per nation (deterministic: unique tiebreak). */
  def windowRanksCustomers(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(s, dir).select(
        col("c_nationkey").cast("long").as("c_nationkey"), col("c_custkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cdist"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  /** Date arithmetic across a join: average ship delay (days between
    * order date and line ship date) per order year — datediff is exact
    * integer math; avg = exact-int sum / count. */
  def scalarDatediffShipping(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
          .as("sum_delay_days"),
        count(lit(1)).as("n_lines"),
        max(datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
          .as("max_delay_days"))
      .withColumn("avg_delay_days",
        col("sum_delay_days").cast("double") / col("n_lines").cast("double"))
      .orderBy(col("o_year"))

  /** TPC-H Q19-style disjunctive predicate (OR of AND-blocks spanning
    * both join sides) — exercises Catalyst's CNF extraction and partial
    * pushdown of the common part. */
  def q19DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 40)))
      .agg(sum(revenueCents(col("l_extendedprice"), col("l_discount")))
        .as("revenue_cents"), count(lit(1)).as("n_rows"))

  /** TPC-H Q22-style: customers with above-average balance and no
    * orders — uncorrelated scalar subquery + anti join. The scalar is
    * modeled as a broadcast cross join of the 1-row aggregate (not a
    * driver-side collect), so the whole query is ONE plan / one job. */
  def q22IdleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("__avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .drop("__avg_bal")
      .join(orders(s, dir).filter(yearIs(col("o_orderdate"), 1995)),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("total_bal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): null keys match
    * each other instead of vanishing. Keys made nullable via nullif. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("k"),
        col("o_totalprice"))
    val pri = o.select(col("k")).distinct()
      .withColumn("rank_label", concat(lit("grp:"), coalesce(col("k"), lit("URGENT"))))
    o.join(pri, o("k") <=> pri("k"))
      .groupBy(col("rank_label"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("rank_label"))
  }

  /** Deterministic string aggregation: sorted list of region names per
    * nation-prefix group (collect_list is unordered — array_sort makes
    * it deterministic, matching DuckDB's ORDER BY string_agg). */
  def aggStringConcat(s: SparkSession, dir: String): DataFrame =
    nation(s, dir)
      .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  val declared: Seq[Declared] = Seq(
    Declared("q19_disjunctive_revenue", q19DisjunctiveRevenue _,
      """SELECT CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents,
        |       count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)""".stripMargin),
    Declared("q22_idle_rich_customers", q22IdleRichCustomers _,
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS total_bal_cents
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND year(o_orderdate) = 1995)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Declared("join_null_safe", joinNullSafe _,
      """WITH o AS (SELECT nullif(o_orderpriority, '1-URGENT') AS k, o_totalprice FROM orders),
        |pri AS (SELECT DISTINCT k, 'grp:' || coalesce(k, 'URGENT') AS rank_label FROM o)
        |SELECT rank_label, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM o JOIN pri ON o.k IS NOT DISTINCT FROM pri.k
        |GROUP BY rank_label ORDER BY rank_label""".stripMargin),
    Declared("agg_string_concat", aggStringConcat _,
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Declared("window_ranks_customers", windowRanksCustomers _,
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  cume_dist() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_nationkey, rnk""".stripMargin),
    Declared("scalar_datediff_shipping", scalarDatediffShipping _,
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS sum_delay_days,
        |  count(*) AS n_lines,
        |  CAST(max(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_delay_days,
        |  CAST(sum(datediff('day', o_orderdate, l_shipdate)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS avg_delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin),
    Declared("agg_stats_orders", aggStatsOrders _,
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.95) AS p95_price,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Declared("q13_customer_distribution", q13CustomerDistribution _,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Declared("q17_small_quantity_revenue", q17SmallQuantityRevenue _,
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_price_cents,
        |       count(*) AS n_rows
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),
    Declared("pivot_events_daily", pivotEventsDaily _,
      """SELECT epoch_us(ts) // 86400000000 AS day_bucket,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY day_bucket""".stripMargin),
    Declared("q1_pricing_summary", q1PricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  sum(l_quantity)/count(*) AS avg_qty,
        |  count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Declared("q3_top_revenue", q3TopRevenue _,
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_shipdate > TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),
    Declared("q4_order_priority", q4OrderPriority _,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Declared("q5_nation_revenue", q5NationRevenue _,
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin),
    Declared("q6_revenue_filter", q6RevenueFilter _,
      """SELECT CAST(sum(CAST(round(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    Declared("join_anti_customers", joinAntiCustomers _,
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Declared("topk_customers_per_nation", topkCustomersPerNation _,
      """SELECT n_name, rn, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) t
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn <= 3 ORDER BY n_name, rn""".stripMargin),
    Declared("window_running_total", windowRunningTotal _,
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    Declared("window_lag_events", windowLagEvents _,
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
        |FROM events ORDER BY event_id""".stripMargin),
    Declared("window_range_frame", windowRangeFrame _,
      """SELECT event_id, user_id, ts_sec,
        |  CAST(sum(vc) OVER w AS BIGINT) AS hour_cents,
        |  count(*) OVER w AS hour_events
        |FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_sec,
        |             CAST(round(value*100) AS BIGINT) AS vc FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    Declared("rollup_lineitem", rollupLineitem _,
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    Declared("grouping_sets_orders", groupingSetsOrders _,
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
        |         AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin),
    Declared("array_order_years", arrayOrderYears _,
      """WITH y AS (
        |  SELECT o_custkey,
        |    list_sort(list_distinct(list(CAST(year(o_orderdate) AS BIGINT)))) AS years
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey,
        |  array_to_string(years, ',') AS years_csv,
        |  CAST(len(years) AS BIGINT) AS n_years,
        |  list_contains(years, 1995) AS has_1995,
        |  years[1] AS first_year,
        |  years[-1] AS last_year
        |FROM y ORDER BY o_custkey""".stripMargin),
    Declared("distinct_parts_per_flag", distinctPartsPerFlag _,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Declared("set_intersect_customers", setIntersectCustomers _,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),
    Declared("set_except_customers", setExceptCustomers _,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),
    Declared("scalar_string_part", scalarStringPart _,
      """SELECT p_partkey, upper(p_brand) AS brand_upper,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS name_words,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  substr(p_type, 1, 5) AS type_prefix,
        |  concat_ws('/', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin),
    Declared("scalar_date_orders", scalarDateOrders _,
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1, 2, 3 ORDER BY o_year, o_month""".stripMargin),
    Declared("json_props_events", jsonPropsEvents _,
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Declared("json_parse_events", jsonParseEvents _,
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT CAST(k % 10 AS BIGINT) AS k_decile, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM t GROUP BY 1 ORDER BY k_decile""".stripMargin),
    Declared("json_variant_events", jsonVariantEvents _,
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(k) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT k % 7) AS BIGINT) AS n_k_mod7
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),
    // the sketch estimates themselves are engine-specific; the oracle
    // recomputes the exact columns and asserts every verdict is true
    Declared("agg_approx_orders", aggApproxOrders _,
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  count(DISTINCT o_custkey) AS exact_custs,
        |  true AS custs_ok, true AS p50_ok, true AS p95_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
