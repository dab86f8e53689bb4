package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the declared-query surface from the operator modules; every
  * entry in `queries` that has a key in `oracleSql` is hash-checked by the
  * driver against DuckDB at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the cube-native insights engine (the reference's defining
    * pipeline, SURVEY.md §2.1 O15 re-expressed as one shuffle). */
  def entry(spark: SparkSession): DataFrame =
    queries("insights_orders_cube")(spark, "/root/testdata/sf0.001")

  /** Each operator module's declared queries, in registry order. A name
    * declared by two modules would be silently dropped by `++`; the
    * registry spec checks the sizes add up. */
  private[graft] lazy val moduleQueries: Seq[Map[String, (SparkSession, String) => DataFrame]] = Seq(
    ops.Relational.queries,
    insights.InsightsQueries.queries,
    ops.Dedup.queries,
    ops.Similarity.queries,
    ops.TextAnalysis.queries,
    ops.Events.queries,
    ops.Temporal.queries,
    ops.Multimodal.queries,
    ops.Skew.queries,
    ops.Pipeline.queries,
    ops.Curation.queries,
    ops.RelationalExt.queries,
    ops.Tpch.queries,
    ops.Layout.queries,
    ops.Mining.queries,
    ops.Calibrate.queries,
    sources.SourceQueries.queries)

  /** Each module's DuckDB oracles, in the order of [[moduleQueries]]. */
  private[graft] lazy val moduleOracles: Seq[Map[String, String]] = Seq(
    ops.Relational.oracleSql,
    insights.InsightsQueries.oracleSql,
    ops.Dedup.oracleSql,
    ops.Similarity.oracleSql,
    ops.TextAnalysis.oracleSql,
    ops.Events.oracleSql,
    ops.Temporal.oracleSql,
    ops.Multimodal.oracleSql,
    ops.Skew.oracleSql,
    ops.Pipeline.oracleSql,
    ops.Curation.oracleSql,
    ops.RelationalExt.oracleSql,
    ops.Tpch.oracleSql,
    ops.Layout.oracleSql,
    ops.Mining.oracleSql,
    ops.Calibrate.oracleSql,
    sources.SourceQueries.oracleSql)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    moduleQueries.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. As of r6 every declared query has an
    * oracle entry (engine-specific sketch/RNG queries emit exact values
    * plus tolerance verdicts that the oracle asserts true). */
  lazy val oracleSql: Map[String, String] = moduleOracles.reduce(_ ++ _)
}
