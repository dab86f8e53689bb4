package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Declared
import graft.GraftSession.tempDir
import graft.Tables._

/** Declared queries that put the non-parquet source/sink formats under
  * the driver's hash gate: each writes a table out through `Sources`,
  * reads it back, and aggregates — the oracle runs the same aggregate
  * over the original parquet, so a green row proves the round-trip is
  * lossless end-to-end (writer, reader, schema handling).
  *
  * Format choices mirror the 100 TB reality: ORC carries every type
  * losslessly (columnar, binary — doubles and timestamps included);
  * JSON is text, so the round-tripped columns are integers and strings
  * only, with money pre-converted to exact integer cents and the read
  * done under an EXPLICIT schema (inference is an extra pass and a
  * drift hazard — SURVEY.md §1.2). */
object SourceQueries {

  /** parquet → ORC → aggregate. ORC is Spark's other vectorized
    * columnar format: same pushdown/pruning behavior as parquet, so
    * the only thing under test is write/read fidelity. */
  def sourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tempDir("graft_orc_rt") + "/orders_orc"
    Sources.writeOrc(orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice")), path)
    Sources.orc(s, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_orderstatus"))
  }

  /** parquet → parquet-with-BLOOM-FILTERS → point-lookup aggregate —
    * the third data-skipping lever beside min/max row-group stats
    * (clustered layout) and Z-order: bloom filters serve HIGH-
    * CARDINALITY point predicates that min/max ranges can't (a needle
    * o_custkey hits every row group's [min,max] unless the file is
    * sorted by exactly that key). The writer stamps a bloom filter on
    * o_custkey into every file (`parquet.bloom.filter.enabled#col`),
    * the reader's IN-list probe then skips row groups whose filter
    * proves absence; SourcesSpec asserts the footer really CARRIES the
    * filter (an ignored option would silently demote this to a plain
    * scan). Results are oracle-exact because bloom skipping is
    * false-positive-only — it never drops a matching row. */
  def sourceBloomRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = writeBloomOrders(s, dir)
    s.read.parquet(path)
      .filter(col("o_custkey").isin(1L, 7L, 42L, 999L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_custkey"))
  }

  /** Bloom-stamped writer half of [[sourceBloomRoundtrip]], exposed so
    * SourcesSpec can inspect the written footers directly.
    *
    * Dictionary interaction (measured, not folklore): parquet-mr
    * SUPPRESSES the bloom filter on any column whose every page stayed
    * dictionary-encoded — the dictionary already answers point lookups
    * exactly, so a bloom would be redundant bytes. Fixture
    * cardinalities fit the dictionary, so the writer here disables
    * dictionary encoding to force the fallback and actually exercise
    * the bloom machinery; at 100 TB the situation inverts by itself —
    * bloom filters matter precisely on the high-NDV columns that BLOW
    * the dictionary, where the fallback (and thus the bloom) happens
    * naturally and this option must NOT be set. */
  private[graft] def writeBloomOrders(s: SparkSession, dir: String): String = {
    val path = tempDir("graft_bloom_rt") + "/orders_bloom"
    orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "2000")
      .option("parquet.enable.dictionary", "false")
      .mode("overwrite").parquet(path)
    path
  }

  /** parquet → JSON lines → aggregate, read back under an explicit
    * StructType. Money goes through as integer cents (exact in text);
    * the aggregate must reproduce the parquet-side numbers bit-for-bit
    * or the oracle row goes red. */
  def sourceJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tempDir("graft_json_rt") + "/orders_json"
    Sources.writeJson(orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      cents(col("o_totalprice")).as("price_cents")), path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("price_cents", LongType)))
    Sources.json(s, path, Some(schema))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_cents")).as("total_cents"),
        max(col("o_orderkey")).as("max_orderkey"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucketed-table co-located join — the layout lever that removes the
    * SHUFFLE from a big–big join entirely: both sides are written as
    * bucketed tables (`bucketBy` + `sortBy` on the join key, same bucket
    * count), so at read time Spark's bucketing rule gives each side an
    * `HashPartitioning(key, 16)` output partitioning and the
    * `EnsureRequirements` rule inserts ZERO Exchange for the sort-merge
    * join (PlanSpec asserts this). At 100 TB this is THE fact-to-fact
    * join strategy: pay one bucketed write per table, then every
    * subsequent join/aggregation on that key is exchange-free. The
    * `merge` hints force SMJ so the assertion is about bucketing, not
    * about one side happening to broadcast at test scale.
    *
    * The aggregate after the join keys on the SAME column, so it also
    * reuses the bucket partitioning — the whole query runs with no data
    * movement except the final tiny per-status rollup. */
  def sourceBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val base = tempDir("graft_bucketed")
    orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"))
      .write.mode("overwrite").option("path", base + "/orders_b")
      .bucketBy(16, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_orders_bucketed")
    customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").option("path", base + "/customer_b")
      .bucketBy(16, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_customer_bucketed")
    val o = s.table("graft_orders_bucketed").hint("merge")
    val c = s.table("graft_customer_bucketed").hint("merge")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_cents")).as("total_cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Dynamic partition pruning — the OTHER layout lever: the fact table
    * is laid out partitioned by derived year, the dimension is filtered
    * on a non-partition attribute, and Catalyst turns the join into a
    * runtime partition filter on the fact scan (the dim side runs
    * first; only the surviving years' directories are read —
    * `PartitionFilters: [dynamicpruningexpression(...)]` in the plan,
    * asserted in PlanSpec). At 100 TB this is what makes
    * date-partitioned fact scans cheap for star joins whose date
    * predicate lives on the dimension: the scan reads the 2-of-7
    * partitions the dim selects, not the whole table. Both relations
    * are FILE-based — a literal in-memory dim would constant-fold into
    * static pruning and prove nothing. */
  def sourceDppJoin(s: SparkSession, dir: String): DataFrame = {
    val base = tempDir("graft_dpp")
    // the dim's key type must MATCH the inferred partition-column type
    // (int): a cast on the fact-side join key is not a bare partition
    // attribute, and the PartitionPruning rule passes on it silently
    orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(base + "/orders_part")
    // the dim predicate is an In over a NON-join attribute: a bare
    // boolean column simplifies to an attribute ref, which the
    // PartitionPruning rule's isLikelySelective check rejects, and a
    // predicate on the join key itself would be constraint-propagated
    // onto the fact as STATIC pruning — either way no DPP to demo
    orders(s, dir)
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .withColumn("parity", concat(lit("p"), col("d_year") % 2))
      .write.mode("overwrite").parquet(base + "/year_dim")
    val fact = s.read.parquet(base + "/orders_part")
    val dim = s.read.parquet(base + "/year_dim")
      .filter(col("parity").isin("p0", "px"))
    fact.join(dim, fact("o_year") === dim("d_year"))
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("o_year"))
  }

  /** Parquet AGGREGATE pushdown — the scan-level lever for metadata
    * queries: global COUNT/MIN/MAX are answered from parquet footer
    * statistics (row-group counts + column min/max), reading ZERO data
    * pages. At 100 TB this turns "how many rows / what date range does
    * this table span" from a full scan into a footer walk — the query
    * every pipeline health-check runs first. Requires the V2 parquet
    * reader, which is scoped to an isolated `newSession` (same
    * SparkContext, own SQLConf) so the rest of the 157-query surface
    * keeps the default V1 path it was verified on. PlanSpec asserts
    * `PushedAggregation` lands in the scan. No filters in the query —
    * a data filter disables the pushdown by contract (footer stats
    * cannot apply row predicates). */
  def scanAggPushdown(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList",
      "avro,csv,json,kafka,orc,text")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // long/double columns only: the pushdown contract excludes
    // timestamp min/max (a timestamp_ntz column in the aggregate list
    // silently disables the whole pushdown — found the hard way)
    orders(s2, dir)
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
  }

  /** Schema evolution across parquet generations — the drift every
    * long-lived 100 TB table accumulates: generation 1 predates the
    * `o_orderpriority` column, generation 2 carries it. One
    * `mergeSchema` read reconciles both (old files surface the new
    * column as NULL — parquet's add-column contract), and the aggregate
    * distinguishes legacy rows explicitly instead of silently mixing
    * them in. The oracle replays the generation split arithmetically
    * over the original table, so a green row proves the merged read
    * neither drops legacy rows nor invents values for them.
    *
    * Scale note: mergeSchema footer reconciliation reads EVERY file's
    * footer at planning time — fine per-query here; a production table
    * pins the merged schema in a catalog/metastore and reads with an
    * explicit schema instead (the documented swap, same output). */
  def sourceSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = tempDir("graft_schema_evo")
    val o = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderpriority"))
    o.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
      .write.mode("overwrite").parquet(s"$base/gen=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .write.mode("overwrite").parquet(s"$base/gen=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        min(col("o_orderkey")).as("min_orderkey"))
      .orderBy(col("priority"))
  }

  /** CSV malformed-row handling — the operational half of the O1 CSV
    * scan the reference relies on: a reader fed real-world CSV must
    * DROP corrupt lines deterministically, not crash or silently null
    * them into the aggregate. Roundtrip: 100 known-good rows written by
    * the engine, plus an injected part file of malformed lines (wrong
    * arity short AND long, a type error) — the `header` option skips
    * the first line of EVERY part file, so the bad file carries a fake
    * header too. Read back with an EXPLICIT schema and
    * `mode=DROPMALFORMED`: exactly the 100 good rows survive, which is
    * what the oracle states (the bad lines never reach it). PERMISSIVE
    * + `_corrupt_record` is the quarantine alternative; DROPMALFORMED
    * is the declared contract because its result is engine-comparable.
    * At scale this is a per-row map decision — no plan impact. */
  def sourceCsvCorruptRoundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.schema(csvRtSchema)
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(writeCsvWithBadRows(s, dir))
      .orderBy(col("o_orderkey"))

  private[graft] val csvRtSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("o_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cents",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("o_orderpriority",
      org.apache.spark.sql.types.StringType)))

  /** Writer half of [[sourceCsvCorruptRoundtrip]], exposed so
    * SourcesSpec can re-read the same directory under PERMISSIVE and
    * prove the bad lines physically reach the reader. */
  private[graft] def writeCsvWithBadRows(s: SparkSession, dir: String): String = {
    val path = tempDir("graft_csv_rt") + "/orders_csv"
    orders(s, dir).orderBy(col("o_orderkey")).limit(100)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"),
        col("o_orderpriority"))
      .repartition(1)
      .write.mode("overwrite").option("header", "true").csv(path)
    Files.writeString(
      java.nio.file.Paths.get(path, "bad-rows.csv"),
      "o_orderkey,cents,o_orderpriority\n" + // per-file header, skipped
        "notanumber,123,1-URGENT\n" +        // type error in a long column
        "1,2\n" +                            // too few columns
        "7,8,1-URGENT,extra,cols\n")         // too many columns
    path
  }

  val declared: Seq[Declared] = Seq(
    // the malformed lines are dropped by contract, so the oracle is
    // simply the 100 good rows the engine wrote
    Declared("source_csv_corrupt_roundtrip", sourceCsvCorruptRoundtrip _,
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),
    Declared("source_schema_evolution", sourceSchemaEvolution _,
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |            ELSE '<legacy>' END AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  min(o_orderkey) AS min_orderkey
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin),
    Declared("source_orc_roundtrip", sourceOrcRoundtrip _,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // bloom skipping is false-positive-only, so the round-trip must
    // reproduce the plain filter exactly
    Declared("source_bloom_roundtrip", sourceBloomRoundtrip _,
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE o_custkey IN (1, 7, 42, 999)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    Declared("source_json_roundtrip", sourceJsonRoundtrip _,
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  max(o_orderkey) AS max_orderkey
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Declared("source_bucketed_join", sourceBucketedJoin _,
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Declared("source_dpp_join", sourceDppJoin _,
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE year(o_orderdate) % 2 = 0
        |GROUP BY 1 ORDER BY o_year""".stripMargin),
    Declared("scan_agg_pushdown", scanAggPushdown _,
      """SELECT count(*) AS n_rows,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders""".stripMargin),
  )
}
