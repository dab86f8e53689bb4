package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its builder over (session, parquet dir),
  * and the DuckDB SQL that must return the same rows on the same tables. */
final case class Declared(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract (SURVEY.md §7).
  *
  * The declared-query surface is one list of [[Declared]] entries gathered
  * from the operator modules; every query carries the DuckDB oracle the
  * driver hash-checks it against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the cube-native insights engine (the reference's defining
    * pipeline, SURVEY.md §2.1 O15 re-expressed as one shuffle). */
  def entry(spark: SparkSession): DataFrame =
    queries("insights_orders_cube")(spark, "/root/testdata/sf0.001")

  /** Every operator module's declarations, in registry order. */
  private[graft] lazy val declared: Seq[Declared] = Seq(
    ops.Relational.declared,
    insights.InsightsQueries.declared,
    ops.Dedup.declared,
    ops.Similarity.declared,
    ops.TextAnalysis.declared,
    ops.Events.declared,
    ops.Temporal.declared,
    ops.Multimodal.declared,
    ops.Skew.declared,
    ops.Pipeline.declared,
    ops.Curation.declared,
    ops.RelationalExt.declared,
    ops.Tpch.declared,
    ops.Layout.declared,
    ops.Mining.declared,
    ops.Calibrate.declared,
    sources.SourceQueries.declared).flatten

  /** Keys declarations by name; a name declared twice fails here rather
    * than one declaration silently replacing the other. */
  private[graft] def byName(ds: Seq[Declared]): Map[String, Declared] = {
    val dups = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    ds.map(d => d.name -> d).toMap
  }

  private lazy val registry: Map[String, Declared] = byName(declared)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.build }

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Engine-specific sketch/RNG queries emit
    * exact values plus tolerance verdicts that the oracle asserts true. */
  lazy val oracleSql: Map[String, String] = registry.map { case (n, d) => n -> d.oracleSql }
}
