package graft.insights

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.Tables._

/** Declared (oracle-checked) instantiations of the insights engine over
  * the driver fixture tables. The Play-Store-shaped compat path (full
  * 14-column powerset, `first()` semantics) is exercised by unit tests
  * against the golden 5-row fixture instead (FIXTURES.md §3) — `first()`
  * is nondeterministic and has no DuckDB-agreeable oracle (SURVEY.md §7.5).
  */
object InsightsQueries {

  val ordersCfg: InsightsConfig = InsightsConfig(
    groupingCols = Seq("o_orderstatus", "o_orderpriority", "o_totalprice"),
    buckets = Map("o_totalprice" -> 100000L))

  val customerCfg: InsightsConfig = InsightsConfig(
    groupingCols = Seq("c_mktsegment", "c_nationkey", "c_acctbal"),
    buckets = Map("c_acctbal" -> 2000L),
    idValues = Map("c_nationkey" -> Seq("n_name")))

  /** Cube-native insights over orders: all 7 subsets of 3 columns in one
    * shuffle, 2% HAVING threshold, reference string format. Served by the
    * native-key cube (r6: groups on raw bucket values, renders labels
    * post-filter — 1.7-3.5× over the string-key path at stress scale,
    * result-identical per InsightsRandomizedSpec/PlayStoreGoldenSpec AND
    * this query's own DuckDB hash oracle). */
  def ordersCube(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    InsightsEngine.insightsCubeNative(o, ordersCfg, o.count()).orderBy("insight")
  }

  /** Loop-compat mode (reference main.py:328-360 literally: one aggregate
    * per subset + unionAll) on the same config — declared with
    * deterministic `min` so the oracle agrees; A/Bs the two modes. */
  def ordersLoop(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    InsightsEngine.enumerateLoop(o, ordersCfg, o.count(), useFirst = false)
      .reduce(_ unionAll _).orderBy("insight")
  }

  /** Insights over customer⋈nation with id→value denormalization:
    * c_nationkey groups but renders min(n_name) (reference main.py:77-84
    * id_cols_with_value_cols semantics, deterministic variant). */
  def customerNationCube(s: SparkSession, dir: String): DataFrame = {
    val df = customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
    // native-dict: n_name is functional on c_nationkey, so the
    // count-only HashAggregate cube + broadcast dictionary re-attach
    // (the scale-mode CLI's exact plan, r7) is exactly min()
    InsightsEngine.insightsCubeNativeDict(df, customerCfg, df.count())
      .orderBy("insight")
  }

  /** Play-Store-SHAPED configuration: 5 grouping columns (31 subsets),
    * two bucketed numerics, and an id→value mapping rendered through the
    * dictionary-join cube — the same structural features as the flagship
    * 14-column pipeline (buckets + idValues + threshold), at a width
    * DuckDB's CUBE can oracle, so the flagship pipeline shape itself is
    * under the driver's hash check beyond 3 columns. */
  val playstoreShapeCfg: InsightsConfig = InsightsConfig(
    groupingCols = Seq("o_orderstatus", "o_orderpriority", "nk",
      "o_totalprice", "o_year"),
    buckets = Map("o_totalprice" -> 100000L, "o_year" -> 5L),
    idValues = Map("nk" -> Seq("n_name")))

  /** Deterministic Play-Store-shaped frame from the fixture tables:
    * orders ⋈ customer (shuffle) ⋈ nation (broadcast), with nationkey as
    * the id column displaying n_name. */
  def playstoreShapeCube(s: SparkSession, dir: String): DataFrame = {
    val df = orders(s, dir)
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("c_nationkey").cast("long").as("nk"),
        col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("n_name"))
      // the threshold count (O19) and the cube both consume the join —
      // materialize it so the 3-table join runs once, mirroring the
      // reference's cache() + single count() discipline
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // served from the native-key dict cube — the scale-mode CLI's exact
    // plan shape (count-only HashAggregate below the Expand, PlanSpec),
    // here under the driver's DuckDB hash oracle
    InsightsEngine.insightsCubeNativeDict(df, playstoreShapeCfg, df.count())
      .orderBy("insight")
  }

  /** Incremental maintenance A/B: the corpus split 4:1 into base and
    * delta on o_orderkey, cubed separately, merged per (keys, gid), and
    * only then thresholded+rendered. The oracle is the FULL-recompute
    * SQL shared with `insights_orders_cube` — so the driver hash-checks
    * that incremental merge ≡ full cube, the materialized-view
    * contract, on every round. */
  def ordersIncremental(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val base = o.filter(pmod(col("o_orderkey"), lit(5L)) =!= 0)
    val delta = o.filter(pmod(col("o_orderkey"), lit(5L)) === 0)
    InsightsEngine.insightsCubeIncremental(base, delta, ordersCfg, o.count())
      .orderBy("insight")
  }

  private val ordersBucket =
    "'[' || CAST(CAST(floor(o_totalprice/100000) AS BIGINT)*100000 AS VARCHAR)" +
      " || '-' || CAST(CAST(floor(o_totalprice/100000) AS BIGINT)*100000 + 100000 AS VARCHAR) || ']'"

  private val ordersInsightsSql: String =
    s"""WITH base AS (
       |  SELECT o_orderstatus AS st, o_orderpriority AS pri, $ordersBucket AS buck
       |  FROM orders),
       |n AS (SELECT CAST(floor(0.02 * count(*)) AS BIGINT) AS thr FROM base),
       |g AS (
       |  SELECT st, pri, buck, count(*) AS c,
       |         GROUPING(st) AS gs, GROUPING(pri) AS gp, GROUPING(buck) AS gb
       |  FROM base GROUP BY CUBE (st, pri, buck))
       |SELECT concat_ws(';',
       |    CASE WHEN gs = 0 THEN 'o_orderstatus=' || st END,
       |    CASE WHEN gp = 0 THEN 'o_orderpriority=' || pri END,
       |    CASE WHEN gb = 0 THEN 'o_totalprice=' || buck END,
       |    CAST(c AS VARCHAR)) AS insight
       |FROM g, n
       |WHERE NOT (gs = 1 AND gp = 1 AND gb = 1) AND c >= thr
       |ORDER BY insight""".stripMargin

  private val customerBucket =
    "'[' || CAST(CAST(floor(c_acctbal/2000) AS BIGINT)*2000 AS VARCHAR)" +
      " || '-' || CAST(CAST(floor(c_acctbal/2000) AS BIGINT)*2000 + 2000 AS VARCHAR) || ']'"

  private val psTotalBucket =
    "'[' || CAST(CAST(floor(o_totalprice/100000) AS BIGINT)*100000 AS VARCHAR)" +
      " || '-' || CAST(CAST(floor(o_totalprice/100000) AS BIGINT)*100000 + 100000 AS VARCHAR) || ']'"

  private val psYearBucket =
    "'[' || CAST(CAST(floor(year(o_orderdate)/5) AS BIGINT)*5 AS VARCHAR)" +
      " || '-' || CAST(CAST(floor(year(o_orderdate)/5) AS BIGINT)*5 + 5 AS VARCHAR) || ']'"

  private val playstoreShapeSql: String =
    s"""WITH base AS (
       |  SELECT o_orderstatus AS st, o_orderpriority AS pri,
       |         c_nationkey AS nk, n_name,
       |         $psTotalBucket AS buck, $psYearBucket AS yb
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |n AS (SELECT CAST(floor(0.02 * count(*)) AS BIGINT) AS thr FROM base),
       |g AS (
       |  SELECT st, pri, nk, buck, yb, min(n_name) AS nname, count(*) AS c,
       |         GROUPING(st) AS gs, GROUPING(pri) AS gp, GROUPING(nk) AS gn,
       |         GROUPING(buck) AS gb, GROUPING(yb) AS gy
       |  FROM base GROUP BY CUBE (st, pri, nk, buck, yb))
       |SELECT concat_ws(';',
       |    CASE WHEN gs = 0 THEN 'o_orderstatus=' || st END,
       |    CASE WHEN gp = 0 THEN 'o_orderpriority=' || pri END,
       |    CASE WHEN gb = 0 THEN 'o_totalprice=' || buck END,
       |    CASE WHEN gy = 0 THEN 'o_year=' || yb END,
       |    CASE WHEN gn = 0 THEN 'n_name=' || nname END,
       |    CAST(c AS VARCHAR)) AS insight
       |FROM g, n
       |WHERE NOT (gs = 1 AND gp = 1 AND gn = 1 AND gb = 1 AND gy = 1)
       |  AND c >= thr
       |ORDER BY insight""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("insights_orders_cube", ordersCube _, ordersInsightsSql),
    Declared("insights_orders_loop", ordersLoop _, ordersInsightsSql), // same result set by design
    // incremental merge must reproduce the full recompute bit-for-bit
    Declared("insights_incremental", ordersIncremental _, ordersInsightsSql),
    Declared("insights_customer_nation", customerNationCube _,
      s"""WITH base AS (
         |  SELECT c_mktsegment AS seg, c_nationkey AS nk, n_name, $customerBucket AS bal
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
         |n AS (SELECT CAST(floor(0.02 * count(*)) AS BIGINT) AS thr FROM base),
         |g AS (
         |  SELECT seg, nk, bal, min(n_name) AS nname, count(*) AS c,
         |         GROUPING(seg) AS gs, GROUPING(nk) AS gn, GROUPING(bal) AS gb
         |  FROM base GROUP BY CUBE (seg, nk, bal))
         |SELECT concat_ws(';',
         |    CASE WHEN gs = 0 THEN 'c_mktsegment=' || seg END,
         |    CASE WHEN gb = 0 THEN 'c_acctbal=' || bal END,
         |    CASE WHEN gn = 0 THEN 'n_name=' || nname END,
         |    CAST(c AS VARCHAR)) AS insight
         |FROM g, n
         |WHERE NOT (gs = 1 AND gn = 1 AND gb = 1) AND c >= thr
         |ORDER BY insight""".stripMargin),
    Declared("insights_playstore_shape", playstoreShapeCube _, playstoreShapeSql),
  )
}
